package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run. A span is (op, name, start, end,
  * parent); spans live in memory and are written out when the run ends.
  * Spark-side figures (jobs, tasks, Catalyst phases, scanned rows) come
  * from listeners and are charged to the op that is open when they arrive.
  */
object Trace {

  final case class Span(op: Long, name: String, startNs: Long, endNs: Long, parent: Int)

  /** Spark work charged to one op. */
  final class SparkTally {
    val jobs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty // (start ms, end ms)
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var analysisMs = 0L
    var optimizationMs = 0L
    var planningMs = 0L
    var scanRows = 0L
    /** Wall time covered by at least one job (overlapping jobs count once). */
    def jobUnionMs: Long = {
      var total = 0L; var curS = -1L; var curE = -1L
      jobs.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE >= 0) total += curE - curS
      total
    }
  }

  @volatile var enabled = false
  @volatile private var tally: SparkTally = null
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  @volatile private var opId = 0L
  private var opStartNs = 0L
  private val stacks = ThreadLocal.withInitial[java.util.ArrayDeque[Integer]](() => new java.util.ArrayDeque[Integer]())

  /** Open op `id`: spans and Spark work from now on are charged to it. */
  def beginOp(id: Long): Unit = if (enabled) {
    opId = id
    opStartNs = System.nanoTime()
    tally = new SparkTally
  }

  /** Close the open op once its client-visible part is done; returns its
    * wall time and Spark tally (None when tracing is off).
    */
  def endOp(spark: SparkSession): Option[(Double, SparkTally)] = {
    val t = tally
    if (t == null) return None
    drain(spark)
    tally = null
    Some(((System.nanoTime() - opStartNs) / 1e6, t))
  }

  /** Time `body` as a span of the open op (a no-op when tracing is off). */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val stack = stacks.get()
    val parent = if (stack.isEmpty) -1 else stack.peek().intValue()
    val idx = spans.synchronized { spans += Span(opId, name, System.nanoTime(), -1L, parent); spans.size - 1 }
    stack.push(idx)
    try body
    finally {
      stack.pop()
      spans.synchronized { spans(idx) = spans(idx).copy(endNs = System.nanoTime()) }
    }
  }

  /** Wall milliseconds of the named spans of the current op. */
  def ms(name: String): Double = spans.synchronized {
    spans.iterator.filter(s => s.op == opId && s.name == name && s.endNs > 0).map(s => (s.endNs - s.startNs) / 1e6).sum
  }

  /** Self time per span name: wall time minus the time of child spans. */
  def selfMs: Map[String, Double] = spans.synchronized {
    val child = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach { s => if (s.parent >= 0) child(s.parent) += (s.endNs - s.startNs) / 1e6 }
    spans.zipWithIndex.groupMapReduce(_._1.name) { case (s, i) => (s.endNs - s.startNs) / 1e6 - child(i) }(_ + _)
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tally != null) jobStarts.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t = tally
        val s = jobStarts.remove(e.jobId)
        if (t != null && s != null) t.synchronized { t.jobs += ((s.longValue(), e.time)) }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val t = tally
        val m = e.taskMetrics
        if (t != null && m != null) t.synchronized {
          t.tasks += 1
          t.taskMs += m.executorRunTime
          t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val t = tally
        if (t == null) return
        val ph = qe.tracker.phases
        def phase(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
        val rows = scanRows(qe.executedPlan)
        t.synchronized {
          t.analysisMs += phase("analysis")
          t.optimizationMs += phase("optimization")
          t.planningMs += phase("planning")
          t.scanRows += rows
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** Rows produced by the file scans of an executed plan. */
  def scanRows(p: SparkPlan): Long = scans(p).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum

  /** File-scan leaves of a physical plan, looking through adaptive stages. */
  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s if s.nodeName.contains("Scan") && s.children.isEmpty && !s.nodeName.contains("LocalTableScan") => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}
