package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the listener events' timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One interval the harness placed around a call into a layer. */
final case class Span(id: Int, parent: Int, kind: String, name: String, start: Double, end: Double)

/** In-memory span recorder. Spans nest through `open`: the innermost
  * open span is the parent of the next one.
  */
final class Spans {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, String, Double)]
  private var nextId = 1

  def current: Int = stack.headOption.map(_._1).getOrElse(0)

  def open[A](kind: String, name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = current
    stack = (id, kind, name, Clock.nowMs) :: stack
    try body
    finally {
      val (_, k, n, s) = stack.head
      stack = stack.tail
      done += Span(id, parent, k, n, s, Clock.nowMs)
    }
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)
}

/** Task aggregates of one stage attempt. */
final class StageAgg {
  var job = -1
  var submitted = 0.0
  var completed = 0.0
  var firstLaunch = Double.MaxValue
  var tasks = 0L
  var durationMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var deserMs = 0L
  var resultSerMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  var inputRecords = 0L
}

/** SparkListener for the traced run: jobs with the harness span that
  * launched them, stages and their task totals.
  */
final class Tracer extends SparkListener {
  final case class Job(id: Int, parent: Int, start: Double, var end: Double)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.computeIfAbsent((id, attempt), _ => new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobs.put(e.jobId, Job(e.jobId, parent, e.time.toDouble, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.synchronized {
      s.job = stageJob.getOrDefault(e.stageInfo.stageId, -1)
      e.stageInfo.submissionTime.foreach(t => s.submitted = t.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.synchronized {
      e.stageInfo.submissionTime.foreach(t => s.submitted = t.toDouble)
      e.stageInfo.completionTime.foreach(t => s.completed = t.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.firstLaunch = math.min(s.firstLaunch, info.launchTime.toDouble)
      s.durationMs += info.duration
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserMs += m.executorDeserializeTime
        s.resultSerMs += m.resultSerializationTime
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.spillB += m.diskBytesSpilled
        s.inputB += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  def jobRecords: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
    Map("id" -> j.id, "parent" -> j.parent, "start" -> j.start, "end" -> j.end))

  def stageRecords: Seq[Map[String, Any]] =
    stages.asScala.toSeq.sortBy(_._1).map { case ((id, attempt), s) =>
      Map(
        "id" -> id, "attempt" -> attempt, "job" -> s.job,
        "start" -> s.submitted, "end" -> s.completed,
        "first_launch" -> (if (s.tasks > 0) s.firstLaunch else s.submitted),
        "tasks" -> s.tasks, "duration_ms" -> s.durationMs, "run_ms" -> s.runMs,
        "cpu_ms" -> s.cpuNs / 1e6, "deser_ms" -> s.deserMs,
        "result_ser_ms" -> s.resultSerMs, "shuffle_write_b" -> s.shuffleWriteB,
        "shuffle_read_b" -> s.shuffleReadB, "spill_b" -> s.spillB, "input_b" -> s.inputB,
        "input_records" -> s.inputRecords)
    }
}

/** Catalyst phase times of every query the program runs through a
  * Dataset action, such as the eager jobs inside query builders.
  */
final class PhaseListener extends org.apache.spark.sql.util.QueryExecutionListener {
  val totals = new ConcurrentHashMap[String, java.lang.Double]()

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = add(qe)

  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = add(qe)

  private def add(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    qe.tracker.phases.foreach { case (k, v) =>
      totals.merge(k, (v.endTimeMs - v.startTimeMs).toDouble, (a, b) => a + b)
    }
}

object Tracer {

  /** Local property that carries the harness span id into the jobs it
    * launches.
    */
  val SpanKey = "perfbench.span"
}

/** Process-wide counters, read before and after the timed window. */
object Counters {

  def snapshot(): Map[String, Double] = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cpuNs = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime.toDouble
      case _ => Double.NaN
    }
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum.toDouble
    val src = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    val fsStats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    def fsSum(f: org.apache.hadoop.fs.FileSystem.Statistics => Long): Double =
      fsStats.map(f).sum.toDouble
    Map(
      "cpu_s" -> cpuNs / 1e9,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "gc_ms" -> gcMs,
      "codegen_compile_ms" -> CodeGenerator.compileTime / 1e6,
      "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen_source_count" -> src.getCount.toDouble,
      "codegen_source_sum" -> src.getSnapshot.getValues.map(_.toDouble).sum,
      "fs_read_b" -> fsSum(_.getBytesRead),
      "fs_write_b" -> fsSum(_.getBytesWritten)) ++ CountingFileSystem.snapshot()
  }

  /** Peak resident set of this JVM in MB (VmHWM), or NaN off Linux. */
  def rssPeakMb(): Double =
    try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .asScala.find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => Double.NaN }
}
