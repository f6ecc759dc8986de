package graft.perf

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed region. Times are epoch milliseconds with a fractional part,
  * so they line up with the Spark listener event times.
  */
final case class Span(id: Int, name: String, parent: Int, start: Double,
    end: Double, runId: String) {
  def ms: Double = end - start
}

/** A finished Spark job as the listener saw it. `callSite` is the long
  * call-site form of its result stage (the user frames of the action).
  */
final case class JobRec(id: Int, start: Long, end: Long, span: String,
    callSite: String, stages: Seq[Int])

/** Task metrics summed per stage. */
final class TaskSums {
  var tasks = 0L; var runMs = 0L; var gcMs = 0L; var inputB = 0L
  var shuffleB = 0L; var spillB = 0L
}

/** Spans and Spark listener counters of one run, kept in memory.
  *
  * Spans are always timed (a clock read at each end); the Spark listeners
  * are registered only in a traced run. The innermost open span's
  * name is set as the `perf.span` local property, so every job carries the
  * span it ran under.
  */
final class Recorder(runId: String) {
  import Recorder.nowMs

  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Int, String)]()
  private var nextId = 0
  @volatile var session: SparkSession = _

  private val selfAcc = new java.util.concurrent.atomic.AtomicLong()

  /** Nanoseconds the recorder spent on its own bookkeeping and in its
    * listener callbacks: the tracing overhead.
    */
  def selfNs: Long = selfAcc.get

  private def self[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally selfAcc.addAndGet(System.nanoTime() - t)
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    self { stack.push((id, name)); setSpanProperty(name) }
    val t0 = nowMs
    try body
    finally self {
      spans += Span(id, name, parent, t0, nowMs, runId)
      stack.pop()
      setSpanProperty(stack.headOption.map(_._2).orNull)
    }
  }

  private def setSpanProperty(name: String): Unit =
    if (session != null) session.sparkContext.setLocalProperty("perf.span", name)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  // ---- Spark listeners -------------------------------------------------
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  /** Stages with no parent stage: the ones that scan the input. */
  val leafStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val taskSums = new java.util.concurrent.ConcurrentHashMap[Int, TaskSums]()
  /** (epoch ms at the end of planning, planning ms = analysis + optimizer
    * + physical planning).
    */
  val planning = new ConcurrentLinkedQueue[(Long, Double)]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  /** SQL execution id -> long call site of the action that started it. */
  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = self {
      val result = e.stageInfos.maxBy(_.stageId)
      e.stageInfos.filter(_.parentIds.isEmpty).foreach(s => leafStages.add(s.stageId))
      val props = Option(e.properties)
      val span = props.map(_.getProperty("perf.span")).orNull
      // a job of a SQL execution may run on a pool thread whose stack holds
      // no user frame: take the call site its execution recorded instead
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSites.get(id.toLong))).getOrElse(result.details)
      open.put(e.jobId, JobRec(e.jobId, e.time, -1L, span, site, e.stageIds))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = self(e match {
      case s: SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.flatMap(r => Option(execSites.get(r)))
        execSites.put(s.executionId, root.getOrElse(s.details))
      case _ => ()
    })
    override def onJobEnd(e: SparkListenerJobEnd): Unit = self {
      Option(open.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = self {
      val m = e.taskMetrics
      if (m != null) {
        val s = taskSums.computeIfAbsent(e.stageId, _ => new TaskSums)
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.inputB += m.inputMetrics.bytesRead
          s.shuffleB += m.shuffleReadMetrics.totalBytesRead
          s.spillB += m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    // the callback runs on the listener bus after the query has ended, so
    // the entry is stamped with the query's own planning end, not the
    // callback's clock
    private def record(qe: QueryExecution): Unit = self {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        planning.add((ph.values.map(_.endTimeMs).max, ph.values.map(_.durationMs.toDouble).sum))
    }
  }

  private var tracing = false

  def startTracing(spark: SparkSession): Unit = if (!tracing) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    tracing = true
  }

  def stopTracing(spark: SparkSession): Unit = if (tracing) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    tracing = false
  }

  /** Listener events arrive on Spark's asynchronous bus: wait (bounded)
    * until every posted event, SQL execution ends and the query listener
    * callbacks they trigger included, has been delivered.
    */
  def drain(): Unit =
    if (session != null) org.apache.spark.PerfListenerBus.waitUntilEmpty(session.sparkContext, 10000)

  // ---- queries over the recorded data ----------------------------------
  def jobsIn(t0: Double, t1: Double): Seq[JobRec] =
    jobs.asScala.filter(j => j.start >= t0 - 1 && j.end <= t1 + 1).toSeq

  def sums(js: Seq[JobRec]): TaskSums = {
    val out = new TaskSums
    js.flatMap(_.stages).distinct.foreach { sid =>
      Option(taskSums.get(sid)).foreach { s =>
        out.tasks += s.tasks; out.runMs += s.runMs; out.gcMs += s.gcMs
        out.inputB += s.inputB; out.shuffleB += s.shuffleB; out.spillB += s.spillB
      }
    }
    out
  }

  /** Tasks of the jobs' leaf (scan) stages. */
  def leafTasks(js: Seq[JobRec]): Long =
    js.flatMap(_.stages).distinct.filter(leafStages.contains)
      .map(s => Option(taskSums.get(s)).map(_.tasks).getOrElse(0L)).sum

  def planningIn(t0: Double, t1: Double): Double =
    planning.asScala.filter { case (t, _) => t >= t0 - 1 && t <= t1 + 1 }.map(_._2).sum

  /** Wall time inside [t0, t1] not covered by any job. */
  def driverGapMs(t0: Double, t1: Double): Double = {
    val iv = jobsIn(t0, t1).map(j => (j.start.toDouble, j.end.toDouble)).sortBy(_._1)
    var covered = 0.0
    var cur: Option[(Double, Double)] = None
    iv.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => covered += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => covered += ce - cs }
    math.max(0.0, (t1 - t0) - covered)
  }
}

object Recorder {
  private val epochOffsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs
}
