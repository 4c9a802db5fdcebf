package graft.core

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.functions._
import graft.expressions.OwnMethod

/** DataFrame-level validation session — the Spark re-expression of the
  * reference's `FilterRunner` (`filters/base.py::FilterRunner`, SURVEY.md
  * §2.5). Instead of a per-record session object, validation appends a
  * single `_errors` column; `valid` / `invalid` are DataFrame splits and
  * error statistics are ordinary aggregations.
  */
object Validate {
  val ErrorsCol = "_errors"

  /** Validate one column in place: replaces it with the cleaned value and
    * merges this column's errors into `_errors` (created if absent).
    * `key` defaults to the column name — the dotted context key on errors.
    * Same plan shape as [[columns]] with one spec.
    */
  def column(df: DataFrame, colName: String, v: Validator, key: String = null): DataFrame =
    annotate(df, Seq(Spec(colName, v, if (key == null) colName else key)))

  private final case class Spec(colName: String, v: Validator, key: String)

  /** Builds the annotated frame depth-wise: projection `d` applies step `d`
    * of EVERY chain in one `withColumns`, so a frame costs one projection
    * per chain depth (not one per step per column) to analyse, optimize
    * and run.
    *
    * Per-step projections are the expression-size barrier: step `d+1`
    * references step `d`'s RESULT ATTRIBUTE, not its expression tree —
    * composing a value-coercing chain into one expression duplicates each
    * step's CASE into every reference the next step makes (exponential
    * growth). CollapseProject keeps the barriers: the produced expressions
    * are non-cheap and multiply-referenced.
    *
    * Each step's value and errors are wrapped in
    * [[graft.expressions.OwnMethod]]: whole-stage codegen inlines all of a
    * stage's Projects into one `processNext`, and a method over 8,000 bytes
    * of bytecode is never JIT-compiled (HotSpot's `HugeMethodLimit`) — the
    * stage would run in the bytecode interpreter. One method per step keeps
    * every generated method about the size of one step, for any number of
    * columns.
    *
    * Semantics are those of applying the specs one after another: a column
    * listed twice starts its second chain from the first chain's cleaned
    * value (it is scheduled at the depth where the first chain ends), and
    * `_errors` concatenates the specs' errors in spec order.
    */
  private def annotate(df: DataFrame, specs: Seq[Spec]): DataFrame = {
    if (specs.isEmpty) return df
    // backtick-quote references: a literal dotted column name ("user.name"
    // from a CSV header) must not parse as struct-field access
    def q(n: String) = col(s"`$n`")
    def own(c: Column) = GraftSqlShim.column(OwnMethod(GraftSqlShim.expression(c)))
    val vTmp = specs.indices.map(i => s"__vv_$i")
    val eTmp = specs.indices.map(i => s"__ve_$i")
    val steps = specs.map(_.v.flattened)
    val prev = continues(df, specs)
    // the depth each chain's first step runs at
    val start = Array.fill(specs.size)(0)
    for (i <- specs.indices; j <- prev(i)) start(i) = start(j) + steps(j).size
    val depths = specs.indices.map(i => start(i) + steps(i).size).max

    var cur = df
    for (d <- 0 until depths) {
      val stepped = specs.indices.filter(i => d >= start(i) && d < start(i) + steps(i).size)
      cur = cur.withColumns(ListMap(stepped.flatMap { i =>
        val s = d - start(i)
        val (in, errs) =
          if (s > 0) (q(vTmp(i)), q(eTmp(i)))
          else (prev(i).fold(q(specs(i).colName))(j => q(vTmp(j))), Errs.none)
        val (nv, ne) = steps(i)(s).step(in, errs, lit(specs(i).key))
        Seq(vTmp(i) -> own(nv), eTmp(i) -> own(ne))
      }: _*))
    }
    // coalesce: a pre-existing null _errors (user column collision, union
    // with an unvalidated frame) must not null the whole merge —
    // concat(null, x) = null would silently drop the row from BOTH valid
    // and invalid splits
    val errors = specs.indices.foldLeft(
        if (df.columns.contains(ErrorsCol)) Some(col(ErrorsCol)) else None) {
      case (None, i) => Some(q(eTmp(i)))
      case (Some(acc), i) => Some(concat(coalesce(acc, Errs.none), q(eTmp(i))))
    }.get
    // each column takes the cleaned value of its last spec
    val cleaned = specs.indices.filterNot(j => specs.indices.exists(prev(_).contains(j)))
      .map(i => specs(i).colName -> q(vTmp(i)))
    cur.withColumns(ListMap(cleaned :+ (ErrorsCol -> errors): _*))
      .drop(vTmp ++ eTmp: _*)
  }

  /** For each spec, the earlier spec of the same column it continues from
    * (resolved like Spark resolves column names). */
  private def continues(df: DataFrame, specs: Seq[Spec]): IndexedSeq[Option[Int]] = {
    val caseSensitive = df.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean
    def same(a: String, b: String) = if (caseSensitive) a == b else a.equalsIgnoreCase(b)
    specs.indices.map(i => specs.indices.take(i).findLast(j => same(specs(j).colName, specs(i).colName)))
  }

  /** Validate several columns, accumulating all their errors — the
    * DataFrame-level equivalent of the reference's `FilterMapper` over a
    * whole record (each field's chain short-circuits individually; errors
    * from different fields all accumulate). The frame is built depth-wise,
    * one projection per chain depth and one generated method per step
    * (see `annotate`), with the output of applying [[column]] per spec in
    * order. */
  def columns(df: DataFrame, specs: (String, Validator)*): ValidationResult = {
    val all = specs.map { case (c, v) => Spec(c, v, c) }
    val useBarrier = specs.exists(_._2.needsBarrier)
    // Barrier pushdown hybrid: the barrier blocks EVERY conjunct of the
    // split filter from reaching the scan, including the free IsNotNull a
    // leading Required implies. Re-derive those input-level facts and plant
    // them BELOW the validation projections (directly on the source) for
    // the valid split — they push to parquet; the dropped rows were invalid
    // by construction. invalid/flagged/failFast must see every row, so only
    // `valid` uses the pre-filtered twin, and only `valid` builds it. Only
    // a column's first chain sees the raw input: a later chain of the same
    // column starts from a cleaned value (which Optional may have filled).
    val prev = continues(df, all)
    val pushed = all.indices.filter(prev(_).isEmpty)
      .flatMap(i => all(i).v.pushedPredicate(df(s"`${all(i).colName}`")))
    val pushedValid =
      if (useBarrier && pushed.nonEmpty) Some(() => annotate(df.filter(pushed.reduce(_ && _)), all))
      else None
    ValidationResult(annotate(df, all), useBarrier, pushedValid)
  }

  def apply(df: DataFrame, specs: (String, Validator)*): ValidationResult =
    columns(df, specs: _*)
}

/** Result of a validation run: the annotated DataFrame plus the
  * `is_valid` / `cleaned_data` / `errors` views the reference exposes.
  *
  * `useBarrier`: a chain's state expressions reference the previous step
  * ~3×, so when predicate pushdown substitutes the split filter through the
  * step projections the predicate grows ~3^steps (and filter codegen has no
  * common-subexpression elimination). Spark pushes even non-deterministic
  * CONDITIONS through deterministic projects (cardinality is unchanged), so
  * the only reliable barrier is a non-deterministic PROJECT FIELD that the
  * filter references: a `spark_partition_id()` tag column with an
  * always-true predicate on it. Long/heavy chains get the tag; short cheap
  * chains skip it so their predicates still push into the scan
  * (e.g. IsNotNull from Required reaches parquet PushedFilters).
  *
  * `pushedValid`: builds the pushdown twin of `df` for [[valid]] (see
  * `Validate.columns`); called on the first `valid` only, so the other
  * splits and `ValidatedIO.writeQuarantined` never pay for building it. */
final case class ValidationResult(df: DataFrame, useBarrier: Boolean = false,
                                  pushedValid: Option[() => DataFrame] = None) {
  import Validate.ErrorsCol
  private val Tag = "__graft_barrier"
  // built on first use: only `valid` reads the pushdown twin
  private lazy val pushedValidDf = pushedValid.map(_())

  private def split(base: DataFrame, cond: Column => Column): DataFrame =
    if (useBarrier)
      base.withColumn(Tag, spark_partition_id())
        .filter(cond(col(ErrorsCol)) && col(Tag) >= 0)
        .drop(Tag)
    else base.filter(cond(col(ErrorsCol)))

  /** Rows with no errors, `_errors` dropped (reference `cleaned_data`).
    * Uses the pushdown twin when present: same rows, but input-level
    * preconditions (IsNotNull from Required) sit below the barrier and
    * reach the scan. */
  def valid: DataFrame =
    split(pushedValidDf.getOrElse(df), e => size(e) === 0).drop(ErrorsCol)

  /** Rows with at least one error, `_errors` kept (quarantine split). */
  def invalid: DataFrame = split(df, e => size(e) > 0)

  /** Flag column instead of a split. */
  def flagged(flag: String = "_valid"): DataFrame =
    df.withColumn(flag, size(col(ErrorsCol)) === 0)

  /** One row per (key, code) with a count — reference `error_codes`
    * aggregated over the whole dataset. */
  def errorCodes: DataFrame =
    df.select(explode(col(ErrorsCol)).as("e"))
      .groupBy(col("e.key").as("key"), col("e.code").as("code"))
      .agg(count(lit(1)).as("n"))

  /** Invalid-value handler policies (reference `filters/handlers.py`):
    * the default is Collect/Memory (the `_errors` column itself). */

  /** ExceptionHandler: fail the JOB on the first invalid record —
    * `raise_error` inside the plan, so the check is distributed and
    * short-circuits the action. */
  def failFast: DataFrame = {
    val e = element_at(col(ErrorsCol), 1)
    val withAssert = df.withColumn("_assert",
      when(size(col(ErrorsCol)) > 0,
        raise_error(concat(lit("Invalid value ["), e.getField("key"), lit("/"),
          e.getField("code"), lit("]: "), e.getField("message"))))
        .otherwise(lit(null)))
    val guarded =
      if (useBarrier)
        withAssert.withColumn(Tag, spark_partition_id())
          .filter(col("_assert").isNull && col(Tag) >= 0).drop(Tag)
      else withAssert.filter(col("_assert").isNull)
    guarded.drop("_assert", ErrorsCol)
  }

  /** LogHandler: valid rows pass through; invalid rows are summarized to
    * the supplied logger (per key/code counts — bounded driver traffic,
    * never the rows themselves). The annotated frame is persisted so the
    * summary job and the caller's subsequent action on the returned frame
    * share one source scan + validation; call `.unpersist()` on `df` when
    * done, or use `observed()` + [[Metrics]] for a zero-extra-job variant. */
  def logInvalid(log: String => Unit): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try errorCodes.collect().foreach { r =>
      log(s"[graft] ${r.getAs[String]("key")}/${r.getAs[String]("code")}: ${r.getAs[Long]("n")} invalid")
    } catch {
      // don't leak the cached frame when the summary job fails — the
      // caller never gets a handle to unpersist it
      case NonFatal(e) => df.unpersist(); throw e
    }
    valid
  }

  /** Per-run metric counters via `Dataset.observe` (no extra job): rows
    * observed + invalid rows, published to QueryExecutionListeners. */
  def observed(name: String = "graft_validation"): DataFrame =
    df.observe(name,
      count(lit(1)).as("n_rows"),
      sum(when(size(col(ErrorsCol)) > 0, 1L).otherwise(0L)).as("n_invalid"))
}
