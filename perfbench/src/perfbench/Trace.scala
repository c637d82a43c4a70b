package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEvents
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into one layer. Its Spark counters are filled
  * in from the listeners when the run ends. */
final class Span(val id: Int, val name: String, val op: Int, val parent: Int, val startNs: Long) {
  var endNs = 0L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Per-job-group Spark counters, summed by [[Trace]]'s listener. */
final class Counters {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var outputBytes = 0L; var outputRecords = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var peakExec = 0L
  var maxTaskMs = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // job (start, end) ms
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  // from query executions: count, planning ms, scan files/rows, edge-exchange bytes
  var executions = 0; var planMs = 0L; var filesRead = 0L; var rowsScanned = 0L; var edgePrepBytes = 0L

  /** Wall time covered by at least one job, in seconds. */
  def busyS: Double = {
    val s = jobSpans.filter(j => j._2 >= j._1).sortBy(_._1)
    var tot = 0L; var curS = -1L; var curE = -1L
    s.foreach { case (a, b) =>
      if (a > curE) { if (curE >= 0) tot += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE >= 0) tot += curE - curS
    tot / 1e3
  }

  /** Slowest task over median task of the span's largest stage. */
  def taskSkew: Double = stageTaskMs.values.toSeq.sortBy(-_.size).headOption match {
    case Some(ts) if ts.nonEmpty =>
      val s = ts.sorted; val med = s(s.size / 2).max(1L); s.last.toDouble / med
    case _ => 0.0
  }
}

/** Span recorder plus the two listeners that attribute Spark's own
  * metrics to spans: a `SparkListener` keyed by job group and a
  * `QueryExecutionListener` for planning phases and scan/exchange metrics.
  * Spans stay in memory; [[finish]] stops recording and joins the
  * counters to them. It records only between `setRecording(true)` and
  * `setRecording(false)`; with `enabled = false` it never records. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var recording = false
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val execGroup = mutable.Map.empty[Long, String]
  private val qes = mutable.ArrayBuffer.empty[QueryExecution]
  private val execOf = new java.util.IdentityHashMap[QueryExecution, Long]
  private val counted = mutable.Set.empty[Int] // plan nodes whose metrics are taken

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("pb:")).foreach { g =>
          jobGroup(e.jobId) = g; jobStart(e.jobId) = e.time
          val c = counters(g); c.jobs += 1; c.stages += e.stageIds.size
          e.stageIds.foreach(stageGroup(_) = g)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobGroup.get(e.jobId).foreach(g => counters(g).jobSpans += jobStart(e.jobId) -> e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val c = counters(g); val m = e.taskMetrics
        c.tasks += 1
        val dur = e.taskInfo.duration
        c.maxTaskMs = math.max(c.maxTaskMs, dur)
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += dur
        if (m != null) {
          c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten; c.outputRecords += m.outputMetrics.recordsWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakExec = math.max(c.peakExec, m.peakExecutionMemory)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.filter(_.startsWith("pb:")).foreach(g => Trace.this.synchronized { execGroup(s.executionId) = g })
      case x: SparkListenerSQLExecutionEnd =>
        SqlEvents.queryExecution(x).foreach(qe => Trace.this.synchronized { execOf.put(qe, x.executionId) })
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized { qes += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Turn recording on or off between operations. The listeners are
    * registered only while recording, so untraced operations of a traced
    * run pay none of their cost; turning off first drains the listener bus,
    * so the traced operation's events are all counted. */
  def setRecording(on: Boolean): Unit = if (enabled && on != recording) {
    if (on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    recording = on
  }

  /** True while spans are being recorded. */
  def active: Boolean = recording

  /** Run `body` as a span named `name` of operation `op`; its Spark jobs run
    * under a job group of their own. */
  def span[A](name: String, op: Int)(body: => A): A =
    if (!recording) body
    else {
      val s = new Span(spans.size, name, op, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      stack.push(s)
      sc.setJobGroup(s"pb:${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb:${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Every node of a physical plan, through adaptive stages, subqueries
    * and the plans of cached relations. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def scansEdges(p: SparkPlan): Boolean = nodes(p).exists {
    case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains("/edges"))
    case _ => false
  }

  /** Stop recording and fold the query executions into counters. */
  def finish(): Unit = {
    setRecording(false)
    synchronized {
      qes.foreach { qe =>
        Option(execOf.get(qe)).flatMap(id => execGroup.get(id)).foreach { g =>
          val c = counters(g)
          c.executions += 1
          c.planMs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
          nodes(qe.executedPlan).filter(n => counted.add(n.id)).foreach {
            case f: FileSourceScanExec =>
              f.metrics.get("numFiles").foreach(m => c.filesRead += m.value)
              f.metrics.get("numOutputRows").foreach(m => c.rowsScanned += m.value)
            case x: ShuffleExchangeExec if scansEdges(x.child) =>
              x.metrics.get("dataSize").foreach(m => c.edgePrepBytes += m.value)
            case _ =>
          }
        }
      }
      qes.clear()
    }
  }

  /** Counters of one span (its own job group only). */
  def of(s: Span): Counters = byGroup.getOrElse(s"pb:${s.id}", new Counters)

  /** Counters of a span and all its descendants, merged. */
  def tree(s: Span): Seq[Counters] = {
    val kids = spans.filter(_.parent == s.id)
    of(s) +: kids.toSeq.flatMap(tree)
  }

  /** Spans as JSON lines (written when the run ends). */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    val c = tree(s)
    f"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.map(_.jobs).sum},""" +
      f""""tasks":${c.map(_.tasks).sum},"executions":${c.map(_.executions).sum},""" +
      f""""shuffle_write_bytes":${c.map(_.shuffleWrite).sum},"spill_bytes":${c.map(_.spill).sum}}"""
  }
}
