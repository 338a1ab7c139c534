package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a layer call made by the benchmark. Spans of one op
  * share `op`; `parent` is the enclosing span on the same thread (0 = none). */
final case class Span(id: Long, name: String, parent: Long, op: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def toJson: String =
    s"""{"id":$id,"name":"${Json.esc(name)}","parent":$parent,"op":"${Json.esc(op)}",""" +
      s""""start_ns":$startNs,"end_ns":$endNs}"""
}

/** Spark counts for one op, summed from listener events. */
final class Counts {
  var jobs, constructJobs, stages, tasks, taskFailures = 0L
  var tablesJobs, tablesJobMs = 0L
  var taskRunMs, taskCpuNs, gcMs, schedWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; constructJobs += o.constructJobs; stages += o.stages
    tasks += o.tasks; taskFailures += o.taskFailures
    tablesJobs += o.tablesJobs; tablesJobMs += o.tablesJobMs
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    schedWaitMs += o.schedWaitMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; input += o.input
    output += o.output; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
  }
}

/** The traced run's recorder: spans around the benchmark's own calls into
  * the engine, plus a SparkListener and a QueryExecutionListener that file
  * every job, stage, task and query execution under the op that was running
  * when it started. The op travels as a Spark local property, so jobs
  * started on the op's thread are attributed even when listener delivery
  * lags. Everything stays in memory until [[spansJson]] is written. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile private var currentOp = ""

  private val counts = TrieMap.empty[String, Counts]
  private val stageOp = TrieMap.empty[Int, String]
  private val stageSubmitMs = TrieMap.empty[(Int, Int), Long]
  private val tablesJobStart = TrieMap.empty[Int, (String, Long)]
  private val executionOp = TrieMap.empty[Long, String]

  def countsOf(op: String): Counts = counts.getOrElseUpdate(op, new Counts)

  /** Counts summed over every op whose id starts with `prefix`. */
  def sumWithPrefix(prefix: String): Counts = {
    val total = new Counts
    counts.foreach { case (k, c) => if (k.startsWith(prefix)) c.synchronized(total += c) }
    total
  }

  /** Attributes everything started by `body` on this thread to `op`. */
  def withOp[T](op: String, phase: String)(body: => T): T = {
    currentOp = op
    sc.setLocalProperty(OpKey, op)
    sc.setLocalProperty(PhaseKey, phase)
    try body finally {
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(PhaseKey, null)
    }
  }

  def span[T](name: String, op: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      spans.synchronized(spans += Span(id, name, parent, op, t0, t1))
    }
  }

  def spansOf(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toSeq)
  def spansJson: Iterator[String] = spans.synchronized(spans.toList).iterator.map(_.toJson)

  /** Adds the planning phases of a query execution the benchmark holds. */
  def addPhases(op: String, qe: QueryExecution): Unit = {
    val c = countsOf(op)
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    c.synchronized {
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
    }
  }

  /** Registers the execution listener on a session (one per session). */
  def watch(spark: SparkSession): Unit = spark.listenerManager.register(queryListener)
  def unwatch(spark: SparkSession): Unit = spark.listenerManager.unregister(queryListener)

  /** Query executions the engine ran itself (eager collects during
    * construction, writes): their phases go to the op whose jobs they ran. */
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPhases(executionOp.getOrElse(qe.id, currentOp), qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      addPhases(executionOp.getOrElse(qe.id, currentOp), qe)
  }

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = prop(e.properties, OpKey).getOrElse(currentOp)
    val c = countsOf(op)
    // the call site's short form names the engine frame that started the job
    val site = prop(e.properties, "callSite.short").orElse(e.stageInfos.headOption.map(_.name))
    val tables = site.exists(_.contains("Tables.scala"))
    c.synchronized {
      c.jobs += 1
      if (prop(e.properties, PhaseKey).contains("construct")) c.constructJobs += 1
      if (tables) c.tablesJobs += 1
    }
    if (tables) tablesJobStart.put(e.jobId, (op, e.time))
    prop(e.properties, "spark.sql.execution.id").flatMap(_.toLongOption)
      .foreach(executionOp.put(_, op))
    e.stageIds.foreach(stageOp.put(_, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    tablesJobStart.remove(e.jobId).foreach { case (op, t0) =>
      val c = countsOf(op)
      c.synchronized(c.tablesJobMs += e.time - t0)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stageSubmitMs.put((si.stageId, si.attemptNumber()),
      si.submissionTime.getOrElse(System.currentTimeMillis()))
    val c = countsOf(stageOp.getOrElse(si.stageId, currentOp))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = countsOf(stageOp.getOrElse(e.stageId, currentOp))
    val info = e.taskInfo
    val wait = stageSubmitMs.get((e.stageId, e.stageAttemptId))
      .map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
    c.synchronized {
      c.tasks += 1
      if (e.reason != Success) c.taskFailures += 1
      c.schedWaitMs += wait
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}
