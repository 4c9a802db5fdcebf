package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import graft.{Harness, SparkEntry}

/** Per-query profile over the harness session. Each query runs once cold
  * and `reps` times warm; each run is split into build (DataFrame
  * construction, including eager `Checkpoints.pin` jobs and the
  * schema-inference job of every parquet read) and execute (a write to
  * the `noop` sink, which evaluates every output column — `count()` would
  * prune the projection and hide a cost that lives in the output
  * expressions), with the Spark jobs each phase launched.
  * `planDir` receives each query's formatted plan as `<query>.txt`.
  *
  * `Test/runMain graft.tools.QProf <sfDir> <q1,q2> [reps] [planDir]`
  * (reps defaults to 3 and may be 0; cores from `SPARK_GRAFT_CPUS`).
  */
object QProf {

  final case class Run(buildS: Double, buildJobs: Int, execS: Double, execJobs: Int) {
    def totalS: Double = buildS + execS
  }
  final case class Profile(name: String, cold: Run, warm: Seq[Run])

  /** Profiles one query; leaves no cached state behind (every run ends
    * with [[Harness.clearState]], as in Bench). */
  def profile(spark: SparkSession, name: String, sfDir: String, reps: Int,
              planDir: Option[String] = None): Profile = {
    require(reps >= 0, s"reps must be >= 0, got $reps")
    val fn = SparkEntry(name).build
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    // listener delivery is asynchronous: drain before every read
    def jobs(): Int = { GraftListenerBusShim.drain(sc); started.get }
    def run(dumpPlan: Boolean): Run = {
      val j0 = jobs()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val j1 = jobs()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val j2 = jobs()
      for (dir <- planDir if dumpPlan) {
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, s"$name.txt"),
          df.queryExecution.explainString(FormattedMode))
      }
      Harness.clearState(spark)
      Run((t1 - t0) / 1e9, j1 - j0, (t2 - t1) / 1e9, j2 - j1)
    }
    sc.addSparkListener(listener)
    try {
      val cold = run(dumpPlan = true)
      Profile(name, cold, Seq.fill(reps)(run(dumpPlan = false)))
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4,
      "usage: QProf <sfDir> <q1,q2> [reps] [planDir]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = args.lift(2).fold(3)(_.toInt)
    val planDir = args.lift(3)
    val known = SparkEntry.cases.map(_.name).toSet
    val unknown = names.filterNot(known)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Harness.session()
    def fmt(r: Run) =
      f"${r.totalS}%7.2f s  build ${r.buildS}%6.2f s ${r.buildJobs}%3d jobs  " +
        f"noop write ${r.execS}%6.2f s ${r.execJobs}%3d jobs"
    for (name <- names) {
      val p = profile(spark, name, sfDir, reps, planDir)
      println(f"[qprof] $name%-28s cold   ${fmt(p.cold)}")
      p.warm.zipWithIndex.foreach { case (r, i) =>
        println(f"[qprof] $name%-28s warm ${i + 1}%-2d ${fmt(r)}")
      }
      val warm = p.warm.map(_.totalS)
      println(f"[qprof] $name%-28s cold ${p.cold.totalS}%6.2f  warm " +
        (if (warm.isEmpty) "-" else
          warm.map(t => f"$t%5.2f").mkString(" ") + f"  min ${warm.min}%5.2f"))
    }
    spark.stop()
  }
}
