package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall-clock base for spans and listener events. Spark stamps its
  * events with `currentTimeMillis`; spans are taken with `nanoTime` and
  * mapped onto the same epoch-millisecond axis. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def now: Long = System.nanoTime()
}

/** One timed request: construction [start, built), materialization
  * [built, end). Codegen readings are taken only in traced passes. */
final case class Request(
    seq: Int, pass: Int, name: String, traced: Boolean,
    startNs: Long, builtNs: Long, endNs: Long, ok: Boolean,
    ownAnalysis: Seq[(String, Double, Double)] = Nil,
    compiles: Long = 0L, compileNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def startMs: Double = Clock.ms(startNs)
  def builtMs: Double = Clock.ms(builtNs)
  def endMs: Double = Clock.ms(endNs)
}

final case class Span(id: Int, parent: Int, request: Int, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Listener-side recording for traced passes. Events are buffered as they
  * arrive and attributed after the pass to the request whose interval
  * contains them, which is exact because a single client issues requests
  * one at a time. */
final class Recorder(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  import Recorder._

  val jobs = new ConcurrentLinkedQueue[JobEv]()
  val stages = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[TaskEv]()
  val qes = new ConcurrentLinkedQueue[QeEv]()
  val progress = new ConcurrentLinkedQueue[ProgressEv]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(JobEv(e.time, e.stageIds.toSet))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      e.stageInfo.completionTime.foreach(t => stages.add(t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskEv(e.taskInfo.finishTime, e.stageId,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.peakExecutionMemory, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten))
    }
  }

  private def planStats(plan: SparkPlan): (Int, Int, Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      nodes.count(_.isInstanceOf[WholeStageCodegenExec]))
  }

  private def record(qe: QueryExecution): Unit = {
    val (ex, re, bc, cg) =
      try planStats(qe.executedPlan) catch { case _: Throwable => (0, 0, 0, 0) }
    qes.add(QeEv(Recorder.phases(qe.tracker), ex, re, bc, cg))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      progress.add(ProgressEv(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L),
        d.getOrElse("walCommit", 0L), d.getOrElse("queryPlanning", 0L),
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Recorder {
  final case class JobEv(atMs: Long, stages: Set[Int])
  final case class TaskEv(atMs: Long, stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                          shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long,
                          peakMem: Long, bytesRead: Long, rowsRead: Long, bytesWritten: Long)
  final case class QeEv(phases: Seq[(String, Double, Double)],
                        exchanges: Int, reused: Int, broadcasts: Int, codegenStages: Int)
  final case class ProgressEv(atMs: Double, triggerMs: Long, addBatchMs: Long,
                              walCommitMs: Long, planningMs: Long, stateRows: Long, stateMem: Long)

  val Phases: Seq[String] = Seq(
    QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  def phases(t: QueryPlanningTracker): Seq[(String, Double, Double)] =
    Phases.flatMap(p => t.phases.get(p).map(s => (p, s.startTimeMs.toDouble, s.endTimeMs.toDouble)))
}

/** Per-request layer figures of one traced pass, attributed by time. */
final case class Layers(
    req: Request,
    phaseMs: Map[String, Double],
    jobs: Int, constructJobs: Int, executeScanJobs: Int, stages: Int, tasks: Int,
    taskCpuS: Double, gcS: Double, skewMax: Double, peakTaskMem: Long,
    shWrite: Long, shRead: Long, fetchWaitS: Double, spill: Long,
    bytesRead: Long, rowsRead: Long, bytesWritten: Long,
    exchanges: Int, reused: Int, broadcasts: Int, codegenStages: Int,
    triggers: Seq[Recorder.ProgressEv])

object Attribution {

  private def within(r: Request, t: Double): Boolean = t >= r.startMs && t <= r.endMs

  /** Attribute every recorded event of a traced pass to its request and
    * build the span tree: request -> construct, execute, and each Catalyst
    * phase under whichever of the two it started in. */
  def apply(rec: Recorder, reqs: Seq[Request]): (Seq[Layers], Seq[Span]) = {
    val jobs = rec.jobs.asScala.toSeq
    val tasks = rec.tasks.asScala.toSeq
    val stageTimes = rec.stages.asScala.toSeq
    val qes = rec.qes.asScala.toSeq
    val progress = rec.progress.asScala.toSeq
    var nextId = 0
    val spans = Seq.newBuilder[Span]
    def span(parent: Int, r: Request, name: String, s: Double, e: Double): Int = {
      val id = nextId; nextId += 1
      spans += Span(id, parent, r.seq, name, s, e); id
    }
    val layers = reqs.map { r =>
      val myQes = qes.filter(q => q.phases.exists(p => within(r, p._2)))
      val phaseList = r.ownAnalysis ++ myQes.flatMap(_.phases).filter(p => within(r, p._2))
      val root = span(-1, r, "request", r.startMs, r.endMs)
      val construct = span(root, r, "construct", r.startMs, r.builtMs)
      val execute = span(root, r, "execute", r.builtMs, r.endMs)
      phaseList.foreach { case (name, s, e) =>
        span(if (s < r.builtMs) construct else execute, r, name, s, e)
      }
      val myTasks = tasks.filter(t => within(r, t.atMs.toDouble))
      val skew = myTasks.groupBy(_.stage).values.collect {
        case ts if ts.size >= 2 && ts.map(_.runMs).max >= 50 =>
          val sorted = ts.map(_.runMs.toDouble).sorted
          sorted.last / math.max(1.0, sorted(sorted.size / 2))
      }
      val execQes = myQes.filter(q => q.phases.exists(p => p._2 >= r.builtMs))
      val myJobs = jobs.filter(j => within(r, j.atMs.toDouble))
      val scanStages = myTasks.filter(_.rowsRead > 0).map(_.stage).toSet
      Layers(r,
        phaseList.groupMapReduce(_._1)(p => p._3 - p._2)(_ + _),
        myJobs.size,
        myJobs.count(_.atMs < r.builtMs),
        myJobs.count(j => j.atMs >= r.builtMs && j.stages.exists(scanStages)),
        stageTimes.count(t => within(r, t.toDouble)), myTasks.size,
        myTasks.map(_.cpuNs).sum / 1e9, myTasks.map(_.gcMs).sum / 1e3,
        if (skew.isEmpty) 1.0 else skew.max,
        if (myTasks.isEmpty) 0L else myTasks.map(_.peakMem).max,
        myTasks.map(_.shWrite).sum, myTasks.map(_.shRead).sum,
        myTasks.map(_.fetchWaitMs).sum / 1e3, myTasks.map(_.spill).sum,
        myTasks.map(_.bytesRead).sum, myTasks.map(_.rowsRead).sum,
        myTasks.map(_.bytesWritten).sum,
        execQes.map(_.exchanges).sum, execQes.map(_.reused).sum,
        execQes.map(_.broadcasts).sum, execQes.map(_.codegenStages).sum,
        progress.filter(p => within(r, p.atMs)))
    }
    (layers, spans.result())
  }
}
