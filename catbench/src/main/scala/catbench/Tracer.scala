package catbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.CatbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A layer call inside an operation, timed on the client thread. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A Spark job an operation started, as the listener saw it. */
final case class JobSpan(jobId: Int, span: Int, startMs: Long, endMs: Long)

/** Everything recorded for one traced operation. Listener callbacks
  * write the counters on the bus thread; the client reads them only
  * after the bus has drained. */
final class OpRecord(val id: Int, val kind: String) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  val spans = ArrayBuffer[Span]()
  val jobs = ArrayBuffer[JobSpan]()
  val stageSpans = ArrayBuffer[(Int, Long, Long, Int)]()
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var sqlExecs = 0L
  var planningMs = 0.0
  var filesScanned = 0L
  var rowsScanned = 0L
  var rowsReturned = 0L

  def wallMs: Double = (endNs - startNs) / 1e6
  /** Wall time not covered by the layer spans, which tile the op. */
  def selfMs: Double = wallMs - spans.map(_.ms).sum
  def jobsIn(spanName: String): Int = {
    val ids = spans.filter(_.name == spanName).map(_.id).toSet
    jobs.count(j => ids.contains(j.span))
  }
  /** Op wall time during which no job of the op was running. */
  def driverGapMs: Double = {
    val iv = jobs.map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    math.max(0.0, wallMs - covered)
  }
}

/** Records spans around each operation and each layer call, and the
  * jobs, stages, tasks and SQL executions Spark ran for it. Operations
  * run one at a time on the client thread; the tracer tags their jobs
  * with a job group of its own and keeps everything in memory until
  * [[write]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val ops = ArrayBuffer[OpRecord]()
  @volatile private var current: OpRecord = null
  private var openSpan = -1
  private var nextSpan = 0
  private val stageOp = new ConcurrentHashMap[Integer, OpRecord]()
  private val jobOp = new ConcurrentHashMap[Integer, (OpRecord, Int, Long)]()
  @volatile var unattributedJobs = 0L

  private val SpanProp = "catbench.span"
  private def group(op: OpRecord) = s"catbench-op-${op.id}"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = current
      val props = Option(e.properties)
      if (op != null && props.exists(_.getProperty("spark.jobGroup.id") == group(op))) {
        val span = props.flatMap(p => Option(p.getProperty(SpanProp)))
          .fold(-1)(_.toInt)
        jobOp.put(e.jobId, (op, span, e.time))
        e.stageIds.foreach(s => stageOp.put(s, op))
      } else unattributedJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.remove(e.jobId)).foreach { case (op, span, start) =>
        op.jobs += JobSpan(e.jobId, span, start, e.time)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageOp.get(si.stageId)).foreach { op =>
        op.stages += 1
        op.stageSpans += ((si.stageId, si.submissionTime.getOrElse(0L),
          si.completionTime.getOrElse(0L), si.numTasks))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        op.tasks += 1
        if (e.reason != org.apache.spark.Success) op.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          op.cpuNs += m.executorCpuTime
          op.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          op.spillBytes += m.diskBytesSpilled
        }
      }
  }

  private object Scans extends AdaptiveSparkPlanHelper {
    def of(qe: QueryExecution): Seq[FileSourceScanExec] =
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val op = current
      if (op != null) {
        op.sqlExecs += 1
        op.planningMs += qe.tracker.phases.values
          .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
        Scans.of(qe).foreach { s =>
          s.metrics.get("numFiles").foreach(op.filesScanned += _.value)
          s.metrics.get("numOutputRows").foreach(op.rowsScanned += _.value)
        }
      }
    }
  }

  /** Runs `body` as one traced operation; returns its result and its
    * record, whose wall time covers `body` alone. */
  def op[T](kind: String)(body: => T): (T, OpRecord) = {
    val op = new OpRecord(ops.size, kind)
    ops += op
    // Events of an earlier, untraced op still queued on the bus must not
    // reach this op's listeners.
    CatbenchBus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    current = op
    sc.setJobGroup(group(op), kind)
    try {
      op.startMs = System.currentTimeMillis()
      op.startNs = System.nanoTime()
      val r = body
      op.endNs = System.nanoTime()
      op.endMs = System.currentTimeMillis()
      (r, op)
    } finally {
      if (op.endNs == 0L) {
        op.endNs = System.nanoTime()
        op.endMs = System.currentTimeMillis()
      }
      sc.clearJobGroup()
      CatbenchBus.drain(sc)
      current = null
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(listener)
    }
  }

  /** A layer call inside the current operation; a plain call outside. */
  def span[T](name: String)(body: => T): T = {
    val op = current
    if (op == null) body
    else {
      val id = nextSpan
      nextSpan += 1
      val outer = openSpan
      openSpan = id
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        op.spans += Span(id, name, t0, System.nanoTime())
        openSpan = outer
        sc.setLocalProperty(SpanProp, if (outer < 0) null else outer.toString)
      }
    }
  }

  /** Adds rows the current operation handed back to its caller. */
  def noteRows(n: Long): Unit = {
    val op = current
    if (op != null) op.rowsReturned += n
  }

  /** Tolerance within which an op's layer spans must add up to its wall
    * time, and its jobs must fall inside it (millisecond event clock). */
  val ToleranceMs = 1.0
  val TolerancePct = 1.0
  def reconciles(op: OpRecord): Boolean =
    op.selfMs >= 0 && op.selfMs <= ToleranceMs + op.wallMs * TolerancePct / 100 &&
      op.jobs.forall(j => j.startMs >= op.startMs - 1 && j.endMs <= op.endMs + 1)

  /** Writes every span, job and stage as one JSON object a line. */
  def write(path: Path): Unit = {
    val sb = new StringBuilder
    ops.foreach { op =>
      sb.append(s"""{"type":"op","op":${op.id},"kind":"${op.kind}","start_ms":${op.startMs},"wall_ms":${op.wallMs},"self_ms":${op.selfMs},"reconciled":${reconciles(op)}}""").append('\n')
      op.spans.foreach { s =>
        sb.append(s"""{"type":"span","op":${op.id},"span":${s.id},"name":"${s.name}","offset_ms":${(s.startNs - op.startNs) / 1e6},"ms":${s.ms}}""").append('\n')
      }
      op.jobs.foreach { j =>
        sb.append(s"""{"type":"job","op":${op.id},"span":${j.span},"job":${j.jobId},"start_ms":${j.startMs},"end_ms":${j.endMs}}""").append('\n')
      }
      op.stageSpans.foreach { case (id, s, e, n) =>
        sb.append(s"""{"type":"stage","op":${op.id},"stage":$id,"start_ms":$s,"end_ms":$e,"tasks":$n}""").append('\n')
      }
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(UTF_8))
  }
}
