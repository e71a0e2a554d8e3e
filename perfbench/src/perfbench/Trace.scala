package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfBenchAccess
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Counters of one operation (a pipeline stage, research step or catalog
  * query), gathered from Spark's listener events while it ran. */
final class OpStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleReadB, shuffleWriteB, spillB = 0L
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  var analysisMs, optimizationMs, planningMs = 0.0
  var rowsWritten, filesWritten, bytesWritten, commitMs = 0L
  var codegenFailures = 0L
  var tableLoadJobs, tableLoadMs = 0L
  val scanRows = mutable.Map[String, Long]().withDefaultValue(0L)
  val observed = mutable.Map[String, Long]().withDefaultValue(0L)

  /** Sum over stages of the slowest task over sum of the median task:
    * 1.0 when every stage's tasks take equally long. */
  def taskSkew: (Double, Double) = {
    var mx, med = 0.0
    stageTaskMs.values.filter(_.size >= 2).foreach { ts =>
      val s = ts.sorted
      mx += s.last
      med += s(s.size / 2)
    }
    (mx, med)
  }
}

/** A timed interval of the run: run -> pass -> operation -> Spark job. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Counts ERROR events of Spark's code generator: each one is a generated
  * class that failed to compile and fell back to interpreted evaluation. */
final class CodegenFailureCounter
    extends AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) count.incrementAndGet()
}

object CodegenFailureCounter {
  private val loggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def install(): CodegenFailureCounter = {
    val a = new CodegenFailureCounter
    a.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getLogger(loggerName).asInstanceOf[CoreLogger].addAppender(a)
    a
  }
}

/** Listener that attributes every job, stage, task, SQL execution and
  * codegen failure to the operation open on the driver when it happened.
  * Operations run one after another and the listener bus is drained when
  * each one ends, so the attribution is exact. Spans stay in memory until
  * the run ends. */
final class Tracer(sc: SparkContext, codegen: CodegenFailureCounter) extends SparkListener {
  @volatile private var current: OpStats = _
  @volatile private var currentSpan = 0
  private val jobStartMs = mutable.Map[Int, (Long, String, Boolean, Int)]()
  private val stageJob = mutable.Map[Int, OpStats]()
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private var codegenAtStart = 0L

  def newSpanId(): Int = synchronized { nextId += 1; nextId - 1 }

  def attach(): Unit = sc.addSparkListener(this)

  def detach(): Unit = {
    PerfBenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(this)
  }

  def begin(spanId: Int): OpStats = {
    PerfBenchAccess.drainListenerBus(sc)
    val s = new OpStats
    codegenAtStart = codegen.count.get
    currentSpan = spanId
    current = s
    s
  }

  def end(): Unit = {
    PerfBenchAccess.drainListenerBus(sc)
    current.codegenFailures = codegen.count.get - codegenAtStart
    current = null
  }

  def addSpan(s: Span): Unit = synchronized { spans += s }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = current
    if (s == null) return
    s.jobs += 1
    // a stage's name is the short call site of the action that made it
    val site = e.stageInfos.headOption.map(_.name).getOrElse("")
    val isLoad = site.startsWith("parquet at Tables.scala")
    if (isLoad) s.tableLoadJobs += 1
    synchronized {
      jobStartMs(e.jobId) = (e.time, site, isLoad, currentSpan)
      e.stageIds.foreach(id => stageJob(id) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach { case (start, site, isLoad, parent) =>
      if (isLoad && current != null) current.tableLoadMs += e.time - start
      spans += Span(nextId, parent, s"job ${e.jobId}: $site", start.toDouble, e.time.toDouble)
      nextId += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = current
    if (s != null) s.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = synchronized(stageJob.getOrElse(e.stageId, current))
    if (s == null || e.taskMetrics == null) return
    val m = e.taskMetrics
    s.tasks += 1
    s.runMs += m.executorRunTime
    s.cpuNs += m.executorCpuTime
    s.gcMs += m.jvmGCTime
    s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
    s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
    s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd =>
      val s = current
      if (s != null) PerfBenchAccess.queryExecution(e).foreach { qe =>
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(x => (x.endTimeMs - x.startTimeMs).toDouble).getOrElse(0.0)
        s.analysisMs += ms("analysis")
        s.optimizationMs += ms("optimization")
        s.planningMs += ms("planning")
        qe.observedMetrics.foreach { case (name, row) =>
          if (row.size > 0) s.observed(name) += row.getLong(0)
        }
        Tracer.nodes(qe.executedPlan).foreach {
          case w: DataWritingCommandExec =>
            val m = w.cmd.metrics
            def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
            s.rowsWritten += v("numOutputRows")
            s.filesWritten += v("numFiles")
            s.bytesWritten += v("numOutputBytes")
            s.commitMs += v("taskCommitTime") + v("jobCommitTime")
          case f: FileSourceScanExec =>
            val path = f.relation.location.rootPaths.map(_.toString).mkString(",")
            s.scanRows(path) += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          case _ =>
        }
      }
    case _ =>
  }
}

object Tracer {
  /** Every node of an executed plan, through adaptive and command wrappers. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => Iterator.empty
    case other => Iterator.single(other) ++ other.children.iterator.flatMap(nodes)
  }
}
