package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Validate
import graft.{filters => F}
import graft.filters.Emptiness
import graft.registry._

/** Query contract (SURVEY.md §2.7): one [[Case]] per implemented
  * operator, kept with its DuckDB oracle in the `graft.registry` domain
  * files; plus the table loaders those cases share and the t1 smoke
  * [[entry]]. */
object SparkEntry {

  /** Table loader. `events.ts` in the CURRENT testdata is microsecond
    * TIMESTAMP_NTZ (`Timestamp(isAdjustedToUTC=false, µs)` — the
    * pandas/pyarrow default), which Spark reads natively and every batch
    * operator (windows, as-of, comparisons) consumes as-is; DuckDB's
    * TIMESTAMP is NTZ-shaped too, so under the pinned-UTC session the
    * oracle hashes agree with no conversion. The guarded branch below
    * supports the LEGACY testdata shape (nanosecond-as-long, readable only
    * with `spark.sql.legacy.parquet.nanosAsLong=true`, converted ns→µs with
    * exact integer `div` — ns epochs overflow a double mantissa); both
    * shapes are spec-covered in `StreamingSpec`. Streaming paths
    * additionally normalize NTZ→TIMESTAMP, which `withWatermark` requires
    * (`StreamingValidate.ensureEventTime`). */
  private[graft] def T(s: SparkSession, dir: String, n: String): DataFrame = {
    val df0 = s.read.parquet(s"$dir/$n.parquet")
    if (n == "events" && df0.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df0
  }

  /** [[T]] + [[rebalanceScan]]: the loader for queries whose pre-exchange
    * map work is heavy enough that splitting an underparallelized scan
    * wins (measured per query, r16). */
  private[graft] def TR(s: SparkSession, dir: String, n: String): DataFrame =
    rebalanceScan(s, T(s, dir, n), s"$dir/$n.parquet")

  /** Parquet bytes below which a scan split is not worth its own task, so
    * dimension tables don't fan out into empty tasks. */
  private val MinTaskBytes = 8192L

  /** r16 (guide §2.5 "input skew: one huge unsplittable file"): the
    * testdata tables are SINGLE-row-group parquet files, so every scan is
    * one task and all pre-exchange map work (regex scoring, tokenization,
    * hashing, URL parsing) serializes on one core regardless of
    * `local[N]`. Repartition right after the read when — and only when —
    * the scan is underparallelized: the target is derived from input SIZE
    * (≥ [[MinTaskBytes]] of parquet per task) and capped at the session's
    * default parallelism. At production scale a table arrives as many
    * files / row groups ≥ cores, the scan already splits ≥ target ways,
    * and this is a no-op — nothing here is tuned to the local core count.
    *
    * Measured A/B over the whole suite (OPTIMIZATION_r16.md): the extra
    * round-robin exchange pays off only where the per-row map work is
    * heavy (regex scoring, covariance, rerank kernels) and LOSES ~0.1–0.3 s
    * per query everywhere else — so it is opt-in per query ([[TR]]),
    * not the [[T]] default. */
  private[graft] def rebalanceScan(s: SparkSession, df: DataFrame, path: String): DataFrame = {
    import scala.util.control.NonFatal
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val conf = s.sparkContext.hadoopConfiguration
      val fs = p.getFileSystem(conf)
      val files = {
        val st = fs.getFileStatus(p)
        if (st.isFile) Array(st)
        else fs.listStatus(p).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      }
      val bytes = files.map(_.getLen).sum
      val target = math.min(s.sparkContext.defaultParallelism.toLong,
        math.max(1L, bytes / MinTaskBytes)).toInt
      if (target <= 1 || files.length >= target) return df
      // Achievable scan parallelism WITHOUT a shuffle: a split never
      // cuts a row group, so the row-group count bounds it (byte-range
      // splits of a single-row-group file yield ONE non-empty partition);
      // and Spark packs row groups into splits of up to maxPartitionBytes,
      // so a small file with many small row groups is still one
      // partition. Counting from footers instead of
      // `df.rdd.getNumPartitions` avoids a throwaway physical planning per
      // table load; footer reads happen only on the fewer-files-than-cores
      // branch above, so a production table never pays them.
      val rowGroups = files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try r.getRowGroups.size finally r.close()
      }.sum
      val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
      val splits = math.min(rowGroups.toLong, (bytes + maxSplit - 1) / maxSplit)
      if (splits >= target) df else df.repartition(target)
    } catch { case NonFatal(e) =>
      // sizing failure degrades to "no rebalance", loudly
      System.err.println(s"[graft] rebalanceScan: could not size $path ($e); skipping")
      df
    }
  }

  /** Flagship (SURVEY.md §7 step 3): validate lineitem with the canonical
    * chains, split valid/invalid, report per-bucket counts. */
  def entry(spark: SparkSession): DataFrame = {
    val li = T(spark, "/root/testdata/sf0.001", "lineitem")
    val res = Validate(li,
      "l_quantity" -> (F.Required(Emptiness.never) | F.Int() | F.Min(1) | F.Max(50)),
      "l_returnflag" -> (F.Required() | F.Choice(Seq("A", "N", "R"))))
    res.flagged("is_valid")
      .groupBy(col("is_valid")).agg(count(lit(1)).as("n"))
      .orderBy(col("is_valid"))
  }

  /** Every registered case, grouped by domain (`Bench` sorts by name). */
  lazy val cases: Seq[Case] = Case.unique(
    FilterCases.cases ++ TextCases.cases ++ DedupCases.cases ++
      RetrievalCases.cases ++ StatsCases.cases ++ TimeSeriesCases.cases ++
      WebCases.cases ++ TableCases.cases ++ StreamingCases.cases ++
      CompositeCases.cases ++ TimedOnlyCases.cases)

  private lazy val byName: Map[String, Case] = cases.map(c => c.name -> c).toMap

  def apply(name: String): Case =
    byName.getOrElse(name, throw new NoSuchElementException(s"no case named $name"))
}
