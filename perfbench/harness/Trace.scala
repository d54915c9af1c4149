package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the harness's calls into graft. Times are epoch
  * milliseconds (fractional) so they line up with Spark listener events. */
final case class Span(id: Int, name: String, parent: Int, start: Double, var end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** In-memory span recorder; `enabled = false` makes every call a plain
  * pass-through, which is how the untraced runs execute. */
final class Tracer(val enabled: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private var stack: List[Int] = Nil
  val spans = ArrayBuffer.empty[Span]

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), nowMs, 0.0)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.end = nowMs; stack = stack.tail }
    }

  def children(parent: Int): Seq[Span] = spans.filter(_.parent == parent).toSeq
}

final case class JobRec(id: Int, start: Long, stages: Seq[Int], var end: Long = -1L)

final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long, peakMem: Long,
                         inBytes: Long, inRecords: Long, outBytes: Long)

/** Spark listener and query-execution listener feeding per-span rollups. */
final class Rollups extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val phases = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(JobRec(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.diskBytesSpilled, m.peakExecutionMemory,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phases.merge(phase, s.durationMs, (a: java.lang.Long, b: java.lang.Long) => a + b)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Execution metrics of the jobs that started inside the given spans. */
  def rollup(spans: Seq[Span], cores: Int): Map[String, Double] = {
    val js = jobs.asScala.filter(j => spans.exists(s => j.start >= s.start && j.start <= s.end)).toSeq
    val stageIds = js.flatMap(_.stages).toSet
    val ts = tasks.asScala.filter(t => stageIds(t.stage)).toSeq
    val wall = spans.map(_.seconds).sum
    // time inside the spans with no job running
    val busyMs = spans.map { s =>
      val iv = js.map(j => (math.max(j.start.toDouble, s.start),
        math.min(if (j.end < 0) s.end else j.end.toDouble, s.end))).filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      covered
    }.sum
    val durs = ts.map(t => (t.finish - t.launch).toDouble).sorted
    val median = if (durs.isEmpty) 0.0 else durs(durs.size / 2)
    val taskS = ts.map(_.runMs).sum / 1000.0
    val mb = (b: Long) => b / 1048576.0
    Map(
      "build_s" -> wall,
      "jobs" -> js.size.toDouble,
      "stages" -> ts.map(_.stage).distinct.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "driver_gap_s" -> math.max(0.0, wall - busyMs / 1000.0),
      "exec_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "task_s" -> taskS,
      "core_util" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
      "shuffle_write_mb" -> mb(ts.map(_.shuffleWrite).sum),
      "shuffle_read_mb" -> mb(ts.map(_.shuffleRead).sum),
      "spill_mb" -> mb(ts.map(_.spill).sum),
      "task_skew" -> (if (median > 0) durs.last / median else if (durs.nonEmpty) 1.0 else 0.0),
      "peak_task_mem_mb" -> mb(if (ts.isEmpty) 0L else ts.map(_.peakMem).max),
      "gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "input_mb" -> mb(ts.map(_.inBytes).sum),
      "input_records" -> ts.map(_.inRecords).sum.toDouble,
      "output_mb" -> mb(ts.map(_.outBytes).sum))
  }
}

/** Process-wide counters read before and after the pipeline. */
object JvmCounters {
  import org.apache.spark.metrics.source.CodegenMetrics

  private def histSum(h: com.codahale.metrics.Histogram): Double = {
    val snap = h.getSnapshot
    // the reservoir holds every sample until it has 1028; past that its
    // mean times the count estimates the sum
    if (h.getCount <= snap.size) snap.getValues.sum.toDouble
    else snap.getMean * h.getCount
  }

  def snapshot(): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "codegen.compile_s" -> histSum(CodegenMetrics.METRIC_COMPILATION_TIME) / 1000.0,
      "codegen.classes" -> CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0,
      "jvm.gc_s" -> gc.map(_.getCollectionTime.max(0L)).sum / 1000.0) ++
      graft.core.Counters.snapshot.map { case (k, v) => k -> v.toDouble }
  }

  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  /** Peak resident set of this process in MB (Linux VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)
}

/** Minimal JSON writer for the harness's flat result records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
