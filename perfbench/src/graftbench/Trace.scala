package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans the benchmark opens around each call into a layer, plus the Spark
  * listeners that attribute stages and Catalyst phases to the innermost
  * open span. Spans are named `layer.part` (e.g. `bdb.separation`,
  * `operators.joins`). Listeners are attached only when tracing is on; span
  * walls are kept in both modes because the benchmark's own metrics come
  * from them. */
final class Trace(spark: SparkSession, traced: Boolean) {
  import Trace._
  private val sc = spark.sparkContext

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val maxTask = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
  @volatile private var jobCount = 0L
  @volatile private var collecting = false
  private var windowMs = (0L, 0L)

  private val stageListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (collecting) {
      jobCount += 1
      val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
      if (span != null) {
        e.stageIds.foreach(stageSpan.put(_, span))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        maxTask.merge(e.stageId, e.taskInfo.duration, (a, b) => math.max(a, b))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (collecting) {
      val i = e.stageInfo
      val m = i.taskMetrics
      val span = Option(stageSpan.get(i.stageId)).getOrElse("unattributed")
      stages.add(Stage(span, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L
        else m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        Option(maxTask.get(i.stageId)).map(_.longValue).getOrElse(0L)))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (collecting) {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      plans.add(Plan(ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (traced) {
    sc.addSparkListener(stageListener)
    spark.listenerManager.register(planListener)
  }

  /** Detach the listeners (tracing-overhead probe); [[attach]] re-adds them. */
  def detach(): Unit = if (traced) {
    sc.removeSparkListener(stageListener)
    spark.listenerManager.unregister(planListener)
  }
  def attach(): Unit = if (traced) {
    sc.addSparkListener(stageListener)
    spark.listenerManager.register(planListener)
  }

  private val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Run `body` inside span `name`; returns its result and records its wall. */
  def span[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Every recorded wall of span `name`, in seconds. */
  def wallsOf(name: String): Seq[Double] = walls.getOrElse(name, Nil).toSeq

  private def drain(): Unit = if (traced) org.apache.spark.BenchBus.drain(sc)

  /** Run `body` as the traced window: listener events are collected only
    * while it runs, and every event it caused is delivered before it ends. */
  def window[T](body: => T): T = {
    drain()
    stages.clear(); plans.clear(); jobCount = 0
    collecting = true
    val t0 = System.currentTimeMillis()
    try body
    finally {
      drain()
      collecting = false
      windowMs = (t0, System.currentTimeMillis())
    }
  }

  /** Start and end (epoch ms) of the last [[window]]. */
  def windowSpan: (Long, Long) = windowMs
  def stageList: Seq[Stage] = stages.toArray(Array.empty[Stage]).toSeq
  def jobs: Long = jobCount

  /** Catalyst phase totals (ms) of every query that finished in the window. */
  def planTotals: Plan = {
    val ps = plans.toArray(Array.empty[Plan]).toSeq
    Plan(ps.map(_.analysisMs).sum, ps.map(_.optimizationMs).sum, ps.map(_.planningMs).sum)
  }
}

object Trace {
  private val SpanKey = "graftbench.span"

  final case class Stage(span: String, submitMs: Long, endMs: Long, tasks: Int,
      cpuNs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long,
      maxTaskMs: Long)
  final case class Plan(analysisMs: Long, optimizationMs: Long, planningMs: Long)

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
