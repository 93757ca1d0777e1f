package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Wall clock in epoch microseconds, with `nanoTime` resolution. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L
}

/** One traced interval. `kind` is the layer (pass, op, build, action,
  * grid, sources, analysis, optimization, planning, job, stage); `name`
  * is the call or op inside it.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    pass: Int, op: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Plan-shape counts of one executed query. */
final case class PlanShape(exchanges: Int = 0, broadcastJoins: Int = 0,
    sortMergeJoins: Int = 0, codegenFallbacks: Int = 0,
    gridScans: Int = 0, scanPartitions: Long = 0, scanRows: Long = 0,
    metadataAnswered: Boolean = false) {
  def +(o: PlanShape): PlanShape = PlanShape(exchanges + o.exchanges,
    broadcastJoins + o.broadcastJoins, sortMergeJoins + o.sortMergeJoins,
    codegenFallbacks + o.codegenFallbacks, gridScans + o.gridScans,
    scanPartitions + o.scanPartitions, scanRows + o.scanRows,
    metadataAnswered || o.metadataAnswered)
}

object PlanShape {
  private def isGrid(o: AnyRef): Boolean = o.getClass.getName.startsWith("graft.")

  /** Walks the final (post-AQE) physical plan, its query stages and its
    * subqueries. Reused exchanges are not counted twice.
    */
  def of(qe: QueryExecution): PlanShape = {
    var shape = PlanShape()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case s: QueryStageExec => visit(s.plan)
        case _: ReusedExchangeExec =>
        case b: BatchScanExec =>
          if (isGrid(b.scan)) {
            val rows = b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            shape = shape.copy(gridScans = shape.gridScans + 1,
              scanPartitions = shape.scanPartitions + b.inputRDD.partitions.length,
              scanRows = shape.scanRows + rows)
          }
        case _: ShuffleExchangeLike =>
          shape = shape.copy(exchanges = shape.exchanges + 1)
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
          shape = shape.copy(broadcastJoins = shape.broadcastJoins + 1)
        case _: SortMergeJoinExec =>
          shape = shape.copy(sortMergeJoins = shape.sortMergeJoins + 1)
        case _ =>
      }
      p.expressions.foreach(_.foreach {
        case _: CodegenFallback =>
          shape = shape.copy(codegenFallbacks = shape.codegenFallbacks + 1)
        case _ =>
      })
      p match {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: ReusedExchangeExec =>
        case _ => p.children.foreach(visit)
      }
      p.subqueries.foreach(visit)
    }
    visit(qe.executedPlan)
    // a grid relation that the optimizer replaced wholesale (no scan
    // left) was answered from chunk metadata
    val readsGrid = qe.analyzed.exists {
      case r: DataSourceV2Relation => isGrid(r.table)
      case _ => false
    }
    val scansLeft = qe.optimizedPlan.exists {
      case _: DataSourceV2Relation | _: DataSourceV2ScanRelation => true
      case _ => false
    }
    shape.copy(metadataAnswered = readsGrid && !scansLeft)
  }
}

/** Per-stage task aggregates, filled by [[SparkRecorder]]. */
final class StageAgg(val stageId: Int, val attempt: Int, val op: String,
    val pass: Int) {
  var jobId: Int = -1
  var submitMs: Long = 0L
  var completeMs: Long = 0L
  var tasks: Long = 0L
  var failures: Long = 0L
  var runMs: Long = 0L
  var cpuNs: Long = 0L
  var schedDelayMs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var fetchWaitMs: Long = 0L
  var spillBytes: Long = 0L
  var resultBytes: Long = 0L
}

final class JobRec(val jobId: Int, val op: String, val pass: Int,
    val span: Long, val execId: Long, val startMs: Long,
    val stageIds: Seq[Int]) {
  var endMs: Long = startMs
}

/** Spark listener of the traced run: jobs, stages and task metrics,
  * attributed to the op (and span) through local properties the client
  * thread sets before each call.
  */
final class SparkRecorder extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  /** SQL execution id of each finished query execution. */
  val executionIds = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.graftbench.SparkBridge.queryExecution(end)
        .foreach(qe => synchronized(executionIds.put(qe, end.executionId)))
    case _ =>
  }

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val rec = new JobRec(e.jobId, prop(p, Recorder.OpKey).getOrElse(""),
      prop(p, Recorder.PassKey).map(_.toInt).getOrElse(-1),
      prop(p, Recorder.SpanKey).map(_.toLong).getOrElse(0L),
      prop(p, "spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time,
      e.stageIds)
    jobs += rec
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      val p = e.properties
      val agg = new StageAgg(i.stageId, i.attemptNumber(),
        prop(p, Recorder.OpKey).getOrElse(""),
        prop(p, Recorder.PassKey).map(_.toInt).getOrElse(-1))
      agg.jobId = stageJob.getOrElse(i.stageId, -1)
      agg.submitMs = i.submissionTime.getOrElse(0L)
      stages((i.stageId, i.attemptNumber())) = agg
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { a =>
        a.submitMs = i.submissionTime.getOrElse(a.submitMs)
        a.completeMs = i.completionTime.getOrElse(0L)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { a =>
      a.tasks += 1
      e.reason match {
        case org.apache.spark.Success =>
        case _ => a.failures += 1
      }
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.resultBytes += m.resultSize
        if (info != null && info.finishTime > 0) {
          val total = info.finishTime - info.launchTime
          a.schedDelayMs += math.max(0L, total - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
        }
      }
    }
  }
}

/** Catalyst phases and plan shape of one executed query. */
final case class QeRec(qe: QueryExecution, phases: Seq[(String, Long, Long)],
    shape: PlanShape)

/** Catalyst phases and plan shape of every executed query. */
final class QeRecorder extends QueryExecutionListener {
  val recs = mutable.ArrayBuffer.empty[QeRec]

  private def phases(qe: QueryExecution): Seq[(String, Long, Long)] =
    qe.tracker.phases.toSeq.map { case (n, s) => (n, s.startTimeMs, s.endTimeMs) }
      .filter(p => p._1 != "parsing")

  override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit = {
    val shape = try PlanShape.of(qe) catch { case _: Throwable => PlanShape() }
    synchronized(recs += QeRec(qe, phases(qe), shape))
  }

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    synchronized(recs += QeRec(qe, phases(qe), PlanShape()))
}

/** The benchmark's span recorder. It always records the pass and op
  * spans (they give the end-to-end timings); while `traced` it also
  * records the calls into each layer and marks each call with local
  * properties so jobs find their parent span.
  */
final class Recorder(sc: org.apache.spark.SparkContext) {
  var traced: Boolean = false
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  var pass: Int = -1
  var op: String = ""

  def current: Long = stack.headOption.getOrElse(0L)

  private def mark(span: Long): Unit = if (traced) {
    sc.setLocalProperty(Recorder.SpanKey, span.toString)
    sc.setLocalProperty(Recorder.OpKey, op)
    sc.setLocalProperty(Recorder.PassKey, pass.toString)
  }

  /** Records `body` as a span of `kind`; nested calls become children. */
  def span[T](kind: String, name: String)(body: => T): T = {
    if (!traced && kind != "pass" && kind != "op") return body
    val id = ids.incrementAndGet()
    val parent = current
    val start = Clock.nowUs
    stack = id :: stack
    mark(id)
    try body
    finally {
      stack = stack.tail
      mark(parent)
      spans += Span(id, parent, kind, name, pass, op, start, Clock.nowUs)
    }
  }

  def nextId(): Long = ids.incrementAndGet()

  /** Marks what runs from here on as outside every pass. */
  def idle(): Unit = {
    pass = -1
    op = ""
    mark(0L)
  }
}

object Recorder {
  val SpanKey = "graftbench.span"
  val OpKey = "graftbench.op"
  val PassKey = "graftbench.pass"
}
