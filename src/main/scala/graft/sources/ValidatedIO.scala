package graft.sources

import org.apache.spark.sql.{functions => fn, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.core.{Validate, ValidationResult, Validator}

/** Validated ingestion and quarantine egress — the source/sink surface of
  * the engine. Readers apply a validator map at the ingest boundary (the
  * reference's `FilterRunner`-at-the-edge pattern); sinks split
  * valid/invalid to separate locations so bad records never pollute the
  * curated dataset.
  *
  * All readers return a [[ValidationResult]]; schemas are explicit for the
  * text formats (schema inference is a full extra scan at 100 TB — never
  * pay it silently).
  */
object ValidatedIO {

  def parquet(spark: SparkSession, path: String,
              specs: (String, Validator)*): ValidationResult =
    Validate.columns(spark.read.parquet(path), specs: _*)

  def orc(spark: SparkSession, path: String,
          specs: (String, Validator)*): ValidationResult =
    Validate.columns(spark.read.orc(path), specs: _*)

  /** The Avro file format's implementation class. Spark 4.1 ships the
    * Avro source inside spark-sql, but it is NOT service-registered
    * under the `avro` shortname (historically an external module), so
    * reads/writes address it by class name. */
  val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Avro (row-oriented — the interchange format of Kafka/registry
    * pipelines; use parquet/ORC for analytics-at-rest). Splittable, so
    * large files parallelize like the columnar sources. */
  def avro(spark: SparkSession, path: String,
           specs: (String, Validator)*): ValidationResult =
    Validate.columns(spark.read.format(AvroFormat).load(path), specs: _*)

  /** XML with an explicit schema (the feed/sitemap/dump ingest format;
    * schema inference would be a full extra scan — never pay it
    * silently). One row per `rowTag` element; absent elements read as
    * null. */
  def xml(spark: SparkSession, path: String, rowTag: String,
          schema: StructType,
          options: Map[String, String] = Map.empty)(
          specs: (String, Validator)*): ValidationResult =
    Validate.columns(
      spark.read.options(options).option("rowTag", rowTag)
        .schema(schema).format("xml").load(path), specs: _*)

  /** Parquet read with ROW PROVENANCE: every row carries the basename of
    * the file it came from (`_source_file`) and its 0-based position in
    * that file (`_source_row`) via Spark's hidden `_metadata` column —
    * no data is scanned for it, the file index supplies both. This is
    * the stable physical row identity an incremental pipeline keys its
    * reprocessing ledger on (re-validate only rows of a replaced shard,
    * trace a bad output back to the exact input row), and it is
    * engine-portable: any parquet reader derives the identical pair
    * (DuckDB: `filename`/`file_row_number`). Basename, not full path —
    * provenance must survive a bucket-to-bucket copy. */
  def parquetWithLineage(spark: SparkSession, path: String,
                         fileCol: String = "_source_file",
                         rowCol: String = "_source_row"): DataFrame =
    spark.read.parquet(path)
      .withColumn(fileCol,
        fn.regexp_extract(fn.col("_metadata.file_path"), "[^/]+$", 0))
      .withColumn(rowCol, fn.col("_metadata.row_index"))

  /** Raw text lines (`value: string` per line — the jsonl/log-file entry
    * point before structured parse; chain `JsonDecode`/`Regex` on `value`).
    * Compressed files (.gz etc.) decode transparently, but gzip is not
    * splittable — one task per file, so shard source files at ~128 MB. */
  def text(spark: SparkSession, path: String,
           specs: (String, Validator)*): ValidationResult =
    Validate.columns(spark.read.text(path), specs: _*)

  /** CSV with an explicit schema (malformed lines land in
    * `_corrupt_record` under PERMISSIVE mode and can be routed with an
    * `Empty()` validator on that column — null/empty passes, a populated
    * corrupt record quarantines the row).
    *
    * When the schema carries the corrupt-record column, parsing runs as
    * `from_csv` over a text scan instead of the CSV file source, for the
    * same reason as [[json]]: the file source's internal corrupt column is
    * query-restricted — a pruned plan that references only that column
    * (e.g. a bare `count()` over the valid split, whose filter is on
    * `_corrupt_record` alone) raises `QUERY_ONLY_CORRUPT_RECORD_COLUMN` —
    * while the `from_csv` column is an ordinary expression with identical
    * PERMISSIVE semantics (same `UnivocityParser` under both). With
    * `header=true` on this path, header lines are dropped by exact match
    * against the schema-derived header (field names joined by the
    * delimiter — the header Spark itself writes); files with a different
    * header text need `header=false` plus a caller-side pre-filter. */
  def csv(spark: SparkSession, path: String, schema: StructType,
          options: Map[String, String] = Map("header" -> "true"))(
          specs: (String, Validator)*): ValidationResult = {
    val corruptCol = options.getOrElse("columnNameOfCorruptRecord",
      spark.conf.getOption("spark.sql.columnNameOfCorruptRecord")
        .getOrElse("_corrupt_record"))
    val df =
      if (!schema.fieldNames.contains(corruptCol))
        spark.read.options(options).schema(schema).csv(path)
      else {
        val opts = options ++ Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> corruptCol)
        val lines = spark.read.text(path)
          // the CSV file source skips blank lines; the text source does not
          .where(fn.length(fn.trim(fn.col("value"))) > 0)
        val body =
          if (options.getOrElse("header", "false").toBoolean) {
            val sep = options.getOrElse("sep", options.getOrElse("delimiter", ","))
            val header = schema.fieldNames.filterNot(_ == corruptCol).mkString(sep)
            lines.where(fn.col("value") =!= fn.lit(header))
          } else lines
        body.select(fn.from_csv(fn.col("value"), schema,
            collection.immutable.Map(opts.toSeq: _*)).as("r"))
          .select(schema.fieldNames.toSeq
            .map(n => fn.col("r").getField(n).as(n)): _*)
      }
    Validate.columns(df, specs: _*)
  }

  /** JSON-lines with an explicit schema. When the schema carries a
    * corrupt-record column (default `_corrupt_record`), parsing runs as
    * `from_json` over a text scan instead of the JSON file source: the
    * file source's internal corrupt column is query-restricted — Spark
    * raises `QUERY_ONLY_CORRUPT_RECORD_COLUMN` when a pruned plan (e.g. a
    * bare `count()` over either split) ends up referencing only that
    * column — while the `from_json` column is an ordinary expression with
    * identical PERMISSIVE semantics (same `JacksonParser` under both). */
  def json(spark: SparkSession, path: String, schema: StructType,
           options: Map[String, String] = Map.empty)(
           specs: (String, Validator)*): ValidationResult = {
    val corruptCol = options.getOrElse("columnNameOfCorruptRecord",
      spark.conf.getOption("spark.sql.columnNameOfCorruptRecord")
        .getOrElse("_corrupt_record"))
    val df =
      if (!schema.fieldNames.contains(corruptCol))
        spark.read.options(options).schema(schema).json(path)
      else {
        val opts = options ++ Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> corruptCol)
        spark.read.text(path)
          // the JSON file source skips blank lines; the text source does not
          .where(fn.length(fn.trim(fn.col("value"))) > 0)
          .select(fn.from_json(fn.col("value"), schema, opts).as("r"))
          .select(schema.fieldNames.toSeq
            .map(n => fn.col("r").getField(n).as(n)): _*)
      }
    Validate.columns(df, specs: _*)
  }

  /** Opaque media files as binary rows (path, modificationTime, length,
    * content) — the multimodal ingest source (SURVEY.md §2.6). Pair with
    * `graft.ops.Multimodal`. */
  def binaryFiles(spark: SparkSession, path: String,
                  pathGlobFilter: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", pathGlobFilter).load(path)

  /** Streaming parquet source with the same validator map — validators are
    * pure Column expressions, so this is the identical code path. */
  def streamParquet(spark: SparkSession, path: String, schema: StructType,
                    specs: (String, Validator)*): ValidationResult =
    Validate.columns(
      spark.readStream.schema(schema).parquet(path), specs: _*)

  /** [[writeAudited]] outcome: `published` tells whether the staged data
    * replaced `path`; `failures` carries one message per violated
    * expectation (empty on publish). */
  final case class AuditReport(published: Boolean, nRows: Long,
                               failures: Seq[String])

  /** Standard expectations for [[writeAudited]] — each is a bounded
    * aggregate over the STAGED data (one row crosses the driver), compose
    * with `++`. */
  object Expect {
    type E = DataFrame => Seq[String]
    def rowCountBetween(lo: Long, hi: Long = Long.MaxValue): E = df => {
      val n = df.count()
      if (n < lo || n > hi) Seq(s"row count $n outside [$lo, $hi]") else Nil
    }
    def noNulls(cols: String*): E = df => {
      // coalesce: sum() over an EMPTY staged frame is null — an empty
      // write must audit as "zero nulls", not NPE and strand staging
      val row = df.select(cols.map(c =>
        fn.coalesce(fn.sum(fn.when(fn.col(c).isNull, 1L).otherwise(0L)),
          fn.lit(0L)).as(c)): _*).head()
      cols.zipWithIndex.collect {
        case (c, i) if row.getLong(i) > 0 => s"column $c has ${row.getLong(i)} nulls"
      }
    }
    def unique(cols: String*): E = df => {
      val dups = df.groupBy(cols.map(fn.col): _*).count()
        .filter(fn.col("count") > 1).count()
      if (dups > 0) Seq(s"${cols.mkString("(", ",", ")")} has $dups duplicated keys")
      else Nil
    }
  }

  /** Write-audit-publish — the sink discipline that keeps a bad batch
    * from ever becoming visible: write `df` to a STAGING directory next
    * to `path`, audit the staged files (the bytes readers would actually
    * see — a re-read, so serialization bugs fail the audit too), and only
    * then swap staging into place; any failed expectation deletes staging
    * and leaves the CURRENT `path` untouched.
    *
    * The swap is two filesystem renames (old → trash, staging → final,
    * delete trash) — atomic per rename on HDFS-like filesystems; the
    * non-atomic window is between the two renames, the standard WAP
    * trade without a table format's metadata commit. Concurrent writers
    * need external coordination (as with any directory-output job).
    *
    * Scale: the audit expectations are partial-aggregable scans of the
    * staged output (each one row to the driver); nothing else is added
    * on top of the write itself. */
  def writeAudited(df: DataFrame, path: String,
                   expectations: Seq[DataFrame => Seq[String]],
                   format: String = "parquet",
                   partitionBy: Seq[String] = Nil): AuditReport = {
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val finalPath = new org.apache.hadoop.fs.Path(path)
    val fs = finalPath.getFileSystem(hconf)
    val stamp = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = new org.apache.hadoop.fs.Path(path + s".__staging_$stamp")
    val trash = new org.apache.hadoop.fs.Path(path + s".__trash_$stamp")
    val w = df.write.mode("overwrite").format(format)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .save(staging.toString)
    val staged = spark.read.format(format).load(staging.toString)
    val failures = expectations.flatMap(_(staged))
    val nRows = staged.count()
    if (failures.isEmpty) {
      // Hadoop rename signals failure by RETURNING FALSE (cross-fs,
      // permissions, dest-exists — where a rename onto an existing dir
      // would otherwise nest staging INSIDE it and mix old and new
      // data). A false here must never become published=true.
      val trashed = fs.exists(finalPath)
      if (trashed && !fs.rename(finalPath, trash))
        return AuditReport(published = false, nRows,
          Seq(s"publish aborted: rename $finalPath -> $trash returned false"))
      if (!fs.rename(staging, finalPath)) {
        // restore the prior data before reporting failure
        val restored = !trashed || fs.rename(trash, finalPath)
        return AuditReport(published = false, nRows,
          Seq(s"publish aborted: rename $staging -> $finalPath returned false" +
            (if (restored) " (prior data restored)"
             else s" (RESTORE FAILED: prior data left at $trash)")))
      }
      fs.delete(trash, true)
      AuditReport(published = true, nRows, Nil)
    } else {
      fs.delete(staging, true)
      AuditReport(published = false, nRows, failures)
    }
  }

  /** Quarantine sink: valid rows to `validPath`, invalid rows (with their
    * `_errors` column) to `invalidPath`. Partition both by any key columns
    * that downstream reads filter on. */
  def writeQuarantined(result: ValidationResult, validPath: String,
                       invalidPath: String, format: String = "parquet",
                       partitionBy: Seq[String] = Nil): Unit = {
    def writer(df: DataFrame) = {
      val w = df.write.mode("overwrite").format(format)
      if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
    }
    // two actions consume the same annotated frame — persist it so the
    // source scan + validator chain runs once, not once per split. Drop
    // the pushdown twin: it is a DIFFERENT (unpersisted) plan, so keeping
    // it would silently re-scan + re-validate for the valid split; under
    // a persisted frame scan pushdown buys nothing anyway. The twin is
    // built only when `valid` reads it, so dropping it here means it is
    // never built (no second set of validation projections to analyse).
    val cached = result.copy(df = result.df
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      pushedValid = None)
    try {
      writer(cached.valid).save(validPath)
      writer(cached.invalid.withColumn(Validate.ErrorsCol,
        org.apache.spark.sql.functions.to_json(
          org.apache.spark.sql.functions.col(Validate.ErrorsCol)))).save(invalidPath)
    } finally cached.df.unpersist()
  }
}
