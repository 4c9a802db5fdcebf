package graftbench

/** Per-layer metrics of a traced run: span self/inclusive times for the
  * harness-side calls into each module, Spark listener totals for the jobs
  * of the measured ops, and JVM counters. A metric the workload does not
  * exercise reads 0 and is listed in `absent` with the reason. */
object Layers {
  final case class Result(metrics: Seq[(String, (Double, String))], absent: Seq[(String, String)])

  def apply(tr: Tracer, ev: SparkEvents, m0: Double, m1: Double, cores: Int, gcMs: Double, jitMs: Double,
            heapPeakMb: Double, ctx: Map[String, Any]): Result = ev.synchronized {
    val opJobs = ev.jobs.values.filter(_.group.startsWith("op-")).toSeq
    def spans(name: String) = tr.spans.filter(_.name == name).toSeq
    def jobsIn(s: Span) = opJobs.filter(j => j.group == s"op-${s.op}" &&
      j.start >= s.start - 1 && j.start <= s.end + 1)
    def jobMs(js: Seq[SparkEvents.Job]) = js.map(j => j.end - j.start).sum
    val absent = Seq.newBuilder[(String, String)]
    val out = Seq.newBuilder[(String, (Double, String))]
    def put(name: String, v: Double, unit: String, missing: => Option[String] = None): Unit = {
      missing.foreach(r => absent += name -> r)
      out += name -> (v, unit)
    }
    def none(cond: Boolean, why: String) = if (cond) Some(why) else None

    // sources: schema-inference/read jobs launched while ValidatedIO.parquet
    // builds the frame; the scan itself runs inside the write jobs
    val readSpans = spans("sources.ValidatedIO.parquet")
    val readJobs = readSpans.flatMap(jobsIn)
    val writeSpans = spans("sources.ValidatedIO.writeQuarantined")
    val noIo = "the workload neither ingests through ValidatedIO nor writes"
    put("sources.read_s", jobMs(readJobs) / 1000, "s", none(readSpans.isEmpty, noIo))
    put("sources.read_jobs", readJobs.size, "count", none(readSpans.isEmpty, noIo))
    put("sources.write_s", writeSpans.map(_.dur).sum / 1000, "s", none(writeSpans.isEmpty, noIo))
    val files = ctx.get("files_written").map(_.toString.toDouble).getOrElse(0.0)
    put("sources.files_written", files, "count", none(writeSpans.isEmpty, noIo))
    val amp = (ctx.get("bytes_written"), ctx.get("bytes_in")) match {
      case (Some(o), Some(i)) => o.toString.toDouble / i.toString.toDouble
      case _ => 0.0
    }
    put("sources.write_amp", amp, "ratio", none(writeSpans.isEmpty, noIo))

    // core: Validate.columns called directly, or inside ValidatedIO.parquet
    // (that span minus its read jobs is plan building in Validate.columns)
    val validateMs = spans("core.Validate.columns").map(_.dur).sum +
      readSpans.map(s => s.dur - jobMs(jobsIn(s))).sum
    put("core.validate_build_s", validateMs / 1000, "s",
      none(validateMs == 0, "the workload builds no validation"))

    val ph = ev.phases.filter(p => p.start >= m0 - 1 && p.start <= m1 + 1)
    put("plans.analysis_s", ph.map(_.analysis).sum / 1000, "s")
    put("plans.optimization_s", ph.map(_.optimization).sum / 1000, "s")
    put("plans.planning_s", ph.map(_.planning).sum / 1000, "s")

    val curate = spans("examples.TwoPassCuration.curate")
    val noCurate = none(curate.isEmpty, "the workload runs no curation composite")
    put("examples.curate_build_s", curate.map(_.dur).sum / 1000, "s", noCurate)
    put("examples.curate_build_jobs", curate.map(jobsIn(_).size).sum, "count", noCurate)

    val pins = opJobs.filter(_.pin)
    put("ops.Checkpoints.pin_jobs", pins.size, "count", none(pins.isEmpty, "no job had a Checkpoints call site"))
    put("ops.Checkpoints.pin_s", jobMs(pins) / 1000, "s", none(pins.isEmpty, "no job had a Checkpoints call site"))

    // spark: the jobs of the measured ops
    val stageIds = opJobs.flatMap(_.stages).toSet
    val stages = ev.stages.values.filter(s => stageIds(s.id)).map(s => s.id -> s).toMap
    val tasks = ev.tasks.filter(t => stages.contains(t.stage))
    val execMs = opJobs.map(j => (j.start, j.end)).sortBy(_._1).foldLeft((0.0, Double.MinValue)) {
      case ((acc, reach), (s, e)) =>
        if (e <= reach) (acc, reach) else (acc + e - math.max(s, reach), e)
    }._1
    val runMs = tasks.map(_.runMs).sum
    put("spark.exec_s", execMs / 1000, "s")
    put("spark.jobs", opJobs.size, "count")
    put("spark.stages", stages.size, "count")
    put("spark.tasks", tasks.size, "count")
    put("spark.task_run_s", runMs / 1000, "s")
    put("spark.task_cpu_s", tasks.map(_.cpuMs).sum / 1000, "s")
    put("spark.parallel_eff", if (execMs > 0) runMs / (execMs * cores) else 0.0, "ratio")
    put("spark.sched_wait_s", tasks.map(t => math.max(0.0, t.launch - stages(t.stage).submitted)).sum / 1000, "s")
    put("spark.shuffle_read_mb", tasks.map(_.shuffleReadB).sum / 1048576.0, "MB")
    put("spark.shuffle_write_mb", tasks.map(_.shuffleWriteB).sum / 1048576.0, "MB")
    put("spark.spill_mb", tasks.map(_.spillB).sum / 1048576.0, "MB")

    put("jvm.gc_s", gcMs / 1000, "s")
    put("jvm.jit_s", jitMs / 1000, "s")
    put("jvm.heap_peak_mb", heapPeakMb, "MB")
    Result(out.result(), absent.result())
  }
}
