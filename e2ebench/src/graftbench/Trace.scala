package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, comparable
  * with the timestamps Spark puts on listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced call: `parent` is the enclosing span's id (-1 at the top),
  * `op` the measured op it belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double, var end: Double) {
  def dur: Double = end - start
}

/** Spans kept in memory; written out once the run ends. A disabled tracer
  * records nothing and only evaluates the wrapped call. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var op: Int = -1

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), op, Clock.ms, 0.0)
      spans += s
      stack ::= s.id
      try f finally { s.end = Clock.ms; stack = stack.tail }
    }

  /** Span duration minus the time its direct children cover. */
  def selfTime(s: Span): Double = s.dur - spans.filter(_.parent == s.id).map(_.dur).sum
}

object Trace {
  /** The spans and the Spark jobs of a traced run, written once it ends. */
  def toJson(tr: Tracer, ev: SparkEvents): String = {
    val spans = tr.spans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> tr.selfTime(s))
    }
    val jobs = ev.synchronized(ev.jobs.values.toSeq).map { j =>
      Json.obj("job" -> j.id, "group" -> j.group, "start_ms" -> j.start, "end_ms" -> j.end,
        "pin" -> j.pin, "call_site" -> j.callSite)
    }
    s"{\"spans\": [\n${spans.mkString(",\n")}\n],\n\"jobs\": [\n${jobs.mkString(",\n")}\n]}\n"
  }
}

/** Spark job, stage and task events plus `qe.tracker` phases, gathered by a
  * harness-side `SparkListener` and `QueryExecutionListener`. Jobs carry the
  * job group the harness set around each op, which ties them to spans. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  import SparkEvents._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.Map.empty[Int, Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val phases = mutable.ArrayBuffer.empty[Phases]
  private var lastEvent = Clock.ms

  private def touch(): Unit = lastEvent = Clock.ms

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // a job launched by Checkpoints.pin carries it in its call site
    val pin = e.stageInfos.exists(_.details.contains("graft.ops.Checkpoints"))
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, group, e.time.toDouble, Double.NaN, e.stageIds, pin, site)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch(); jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touch()
    val si = e.stageInfo
    stages(si.stageId) = Stage(si.stageId, si.submissionTime.map(_.toDouble).getOrElse(Clock.ms))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.stageId, e.taskInfo.launchTime.toDouble, m.executorRunTime.toDouble,
        m.executorCpuTime / 1e6, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    touch()
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
    phases += Phases(start, d("analysis"), d("optimization"), d("planning"))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Listener delivery is asynchronous: wait until every started job has
    * ended and the bus has been quiet for a moment. */
  def drain(): Unit = {
    val deadline = Clock.ms + 10000
    def busy = synchronized(jobs.values.exists(_.end.isNaN) || Clock.ms - lastEvent < 300)
    while (busy && Clock.ms < deadline) Thread.sleep(50)
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

object SparkEvents {
  final case class Job(id: Int, group: String, start: Double, var end: Double,
                       stages: Seq[Int], pin: Boolean, callSite: String)
  final case class Stage(id: Int, submitted: Double)
  final case class Task(stage: Int, launch: Double, runMs: Double, cpuMs: Double,
                        shuffleReadB: Long, shuffleWriteB: Long, spillB: Long)
  final case class Phases(start: Double, analysis: Double, optimization: Double, planning: Double)
}

/** JVM counters sampled around the measured phase. */
object Jvm {
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
  def startMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** Host noise evidence from /proc (absent on other systems). */
  def loadAvg: String =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(",")
    catch { case scala.util.control.NonFatal(_) => "unavailable" }
  def stealTicks: Long =
    try scala.io.Source.fromFile("/proc/stat").getLines().find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
    catch { case scala.util.control.NonFatal(_) => -1L }
}

/** Minimal JSON rendering for the harness's flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(collection.immutable.ListMap(kv: _*))
}
