package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. Runs one workload with fixed work and
  * writes the result (correct/attempted/failed/metrics) and its context as
  * JSON. Phases: generate inputs (gen_s, not part of set-up), three set-ups
  * (session start, input registration, a fixed count of warm-up ops; the
  * first also counts JVM start), the measured ops, then the checks.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             --cores C --out FILE
  */
object Main {
  val SetUps = 3

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1); val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val cores = a("cores").toInt
    val out = a("out")

    val w = Workload(workload, seed, seconds, s"$work/data")
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark = session(cores, work)
    val g0 = Clock.ms
    val inputHash = w.generate(spark)
    val genS = (Clock.ms - g0) / 1000
    w.register(spark); w.warmUp(spark)
    setups += (Clock.ms - Jvm.startMs) / 1000 - genS
    for (_ <- 2 to SetUps) {
      spark.stop()
      val t0 = Clock.ms
      spark = session(cores, work)
      w.register(spark); w.warmUp(spark)
      setups += (Clock.ms - t0) / 1000
    }

    // measured phase
    val tr = new Tracer(trace)
    val events = new SparkEvents
    if (trace) events.register(spark)
    val ops = w.ops(spark, tr)
    val lat = new Array[Double](ops.size)
    val failures = mutable.ArrayBuffer.empty[String]
    val sc = spark.sparkContext
    val (load0, steal0) = (Jvm.loadAvg, Jvm.stealTicks)
    System.gc()
    Jvm.resetPeak()
    val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
    val m0 = Clock.ms
    for ((op, i) <- ops.zipWithIndex) {
      tr.op = i
      sc.setJobGroup(s"op-$i", op.kind)
      val t = Clock.ms
      // NonFatal only: an OutOfMemoryError ends the run loudly
      try { op.run(); lat(i) = (Clock.ms - t) / 1000 }
      catch { case NonFatal(e) =>
        failures += s"op $i (${op.kind}): ${e.getClass.getName}: ${e.getMessage}".take(400)
        lat(i) = Double.PositiveInfinity // a failed op misses any latency limit
      }
      sc.clearJobGroup()
    }
    val m1 = Clock.ms
    val (gc1, jit1, heapPeak) = (Jvm.gcMs, Jvm.jitMs, Jvm.heapPeakMb)
    val (load1, steal1) = (Jvm.loadAvg, Jvm.stealTicks)
    if (trace) events.drain()
    val wallS = (m1 - m0) / 1000
    tr.op = -1

    val checked =
      try w.check(spark)
      catch { case NonFatal(e) => Checked(Seq(s"check failed: $e"), 0.0, 0.0, Nil) }
    val okLat = lat.filterNot(_.isInfinite).toSeq
    val finite = (x: Double) => if (x.isInfinite) Double.MaxValue else x
    val e2e = Seq(
      "setup_s" -> (median(setups.toSeq), "s"),
      "rows_per_s" -> (ops.map(_.rows).sum / wallS, "rows/s"),
      "op_p50_s" -> (finite(median(lat.toSeq)), "s"),
      "drop_recall" -> (checked.dropRecall, "ratio"),
      "keep_recall" -> (checked.keepRecall, "ratio"))
    val layers = if (trace) Layers(tr, events, m0, m1, cores,
      gc1 - gc0, jit1 - jit0, heapPeak, checked.context.toMap) else Layers.Result(Nil, Nil)

    val allFailures = failures.toSeq ++ checked.failures
    val metrics = if (trace) layers.metrics else e2e
    val result = Json.obj(
      "correct" -> allFailures.isEmpty,
      "attempted" -> ops.size,
      "failed" -> failures.size,
      "metrics" -> collection.immutable.ListMap(metrics.map { case (k, (v, u)) =>
        k -> collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))
    val context = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "input_hash" -> inputHash,
      "nproc" -> Runtime.getRuntime.availableProcessors, "spark_cores" -> cores,
      "xmx_mb" -> Jvm.maxHeapMb, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "ops" -> ops.size, "measured_s" -> wallS, "ops_per_s" -> ops.size / wallS,
      "gen_s" -> genS, "setup_runs_s" -> setups.toSeq,
      "op_p90_s" -> finite(quantile(okLat, 0.9)), "op_max_s" -> finite(lat.max),
      "op_p50_s_by_kind" -> ops.indices.groupBy(i => ops(i).kind)
        .map { case (k, is) => k -> finite(median(is.map(lat))) },
      "steal_ticks_delta" -> (steal1 - steal0), "load_avg_start" -> load0, "load_avg_end" -> load1,
      "jvm.jit_s" -> (jit1 - jit0) / 1000, "jvm.gc_s" -> (gc1 - gc0) / 1000,
      "failures" -> allFailures.take(20), "absent_layer_metrics" -> layers.absent.toMap) ++
      checked.context: _*)
    Files.writeString(Paths.get(out), s"$context\n$result\n")
    if (trace) Files.writeString(Paths.get(out + ".spans.json"), Trace.toJson(tr, events))
    spark.stop()
  }
}
