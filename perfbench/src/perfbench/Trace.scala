package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `parent` 0 is the root. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startUs: Long, endUs: Long, attrs: Seq[(String, String)])

/** In-memory span recorder, written out once when the run ends. Spans opened
  * by the client thread nest through a stack; Spark job and stage spans
  * arrive from the listener thread with an explicit parent. */
final class Spans(val enabled: Boolean) {
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  private val ids = new AtomicLong(0L)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil

  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L
  def msToUs(epochMs: Long): Long = epochMs * 1000L
  def current: Long = stack.headOption.getOrElse(0L)
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) synchronized { buf += s }

  def apply[T](name: String, layer: String, attrs: (String, String)*)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      val start = nowUs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        add(Span(id, parent, name, layer, start, nowUs, attrs))
      }
    }

  def all: Seq[Span] = synchronized(buf.toList)

  /** Seconds of self time per layer: each span's duration minus the part of
    * its interval that its children cover. */
  def selfSecondsByLayer: Map[String, Double] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      out(s.layer) += (s.endUs - s.startUs - covered) / 1e6
    }
    out.toMap
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val rows = all.sortBy(_.id).map { s =>
      ListMap[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_us" -> s.startUs, "end_us" -> s.endUs) ++
        (if (s.attrs.isEmpty) Nil else Seq("attrs" -> ListMap(s.attrs: _*)))
    }
    java.nio.file.Files.write(path, Json.write(rows).getBytes("UTF-8"))
  }
}

/** Executor-side counters of one operation, gathered by [[ExecListener]]. */
final class ExecCounts {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, waitMs, busyMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  def +=(o: ExecCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; runMs += o.runMs; waitMs += o.waitMs; busyMs += o.busyMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** Spark listener for the traced run: counts jobs, stages and tasks with
  * their executor metrics, and records job and stage spans under the span
  * named by the `perfbench.span` local property of the submitting thread. */
final class ExecListener(spans: Spans) extends SparkListener {
  import ExecListener.SpanProp
  private var cur = new ExecCounts
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val stageParent = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span id, parent, start us)

  /** Jobs started since the listener was added. */
  @volatile var totalJobs = 0L

  def take(): ExecCounts = synchronized { val c = cur; cur = new ExecCounts; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    totalJobs += 1
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)
    val id = spans.newId()
    jobSpan(e.jobId) = (id, parent, spans.msToUs(e.time))
    e.stageIds.foreach(s => stageParent.getOrElseUpdate(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      spans.add(Span(id, parent, s"job ${e.jobId}", "exec", start, spans.msToUs(e.time), Nil))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    cur.stages += 1
    val start = info.submissionTime.orElse(stageSubmitMs.get(info.stageId)).getOrElse(0L)
    val end = info.completionTime.getOrElse(start)
    spans.add(Span(spans.newId(), stageParent.getOrElse(info.stageId, 0L),
      s"stage ${info.stageId}", "exec", spans.msToUs(start), spans.msToUs(end),
      Seq("tasks" -> info.numTasks.toString)))
    stageSubmitMs.remove(info.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    if (!e.taskInfo.successful) cur.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.cpuNs += m.executorCpuTime
      cur.runMs += m.executorRunTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageSubmitMs.get(e.stageId).foreach(s => cur.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    cur.busyMs += math.max(0L, e.taskInfo.finishTime - e.taskInfo.launchTime)
  }
}

object ExecListener {
  val SpanProp = "perfbench.span"
}

/** What the executed plans of one operation report: planning phases, scans
  * and writes of the `graft-ocf` source. */
final class PlanCounts {
  var queries = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var scans, columnarScans, splits, scanRowsOut, blocksRead, bytesRead = 0L
  var filesWritten, rowsWritten, bytesWritten = 0L
}

/** Query-execution listener for the traced run. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var cur = new PlanCounts
  def take(): PlanCounts = synchronized { val c = cur; cur = new PlanCounts; c }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      cur.queries += 1
      val phases = qe.tracker.phases
      def ms(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
      cur.analysisMs += ms("analysis")
      cur.optimizationMs += ms("optimization")
      cur.planningMs += ms("planning")
      collectWithSubqueries(qe.executedPlan) { case p => p }.foreach {
        case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.sources.") =>
          cur.scans += 1
          if (b.supportsColumnar) cur.columnarScans += 1
          cur.splits += b.inputPartitions.size
          cur.scanRowsOut += metric(b, "numOutputRows")
          cur.blocksRead += metric(b, "ocfBlocksRead")
          cur.bytesRead += metric(b, "ocfBytesRead")
        case p =>
          cur.filesWritten += metric(p, "ocfFilesWritten")
          cur.rowsWritten += metric(p, "ocfRowsWritten")
          cur.bytesWritten += metric(p, "ocfBytesWritten")
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Process-wide counters read at the start and end of a measured window. */
object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime

  /** (read ops, write ops, bytes read, bytes written) of Hadoop's local `file` scheme. */
  def fs: (Long, Long, Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    def g(k: String): Long = if (st == null) 0L else Option(st.getLong(k)).map(_.longValue).getOrElse(0L)
    (g("readOps"), g("writeOps"), g("bytesRead"), g("bytesWritten"))
  }

  def gc: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Classes Spark's whole-stage and expression code generation compiled. */
  def codegenCompiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Peak resident set (`VmHWM`) of this process, in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadAvg1m: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
