package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One span: a call into a layer (or a benchmark op around such calls).
  * Spans of one op share `trace`; `parent` is the span that was open
  * when this one started (-1 for an op's root).
  */
final class Span(val id: Int, val name: String, val layer: String, val parent: Int, val trace: Int, val start: Long) {
  var end: Long = 0L
  /** Plan-node weight per label ("layer.name") for the actions run
    * inside this span (see [[Tracer]]'s plan walk); used to split the
    * span's own time among the lazy layer calls whose frames it ran.
    */
  val nodeWeight = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def durNs: Long = end - start
}

/** Counters accumulated per span from the listener bus and from the
  * executed plans' SQL metrics.
  */
final class SpanCounters {
  var jobs, stages, tasks = 0L
  var taskBusyNs, taskCpuNs, gcMs, schedDelayMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var peakExecMem = 0L
  var planNs = 0L
  var scanRows, scanBytes = 0L
  var writeBytes, filesWritten = 0L
  var objAggNs, sortNs = 0L
  val volumes = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** In-memory span recorder plus the Spark listener that attributes task
  * metrics and plan metrics to spans.
  *
  * Attribution: entering a span sets the Spark job group to the span id
  * (restored to the parent's on exit), so every job, stage and task a
  * span submits carries it. SQL executions carry the job group in their
  * start event; at their end event the executed plan is walked and its
  * SQL metrics are added to that span. With tracing off only the peak
  * task execution memory is collected.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) extends SparkListener {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Int, SpanCounters]
  private var stack: List[Span] = Nil
  private var traceSeq = 0
  private var curTrace = 0

  // listener-side state (listener bus thread)
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile var peakExecMem = 0L

  /** exprId → "layer.name" of the lazy call that introduced it. */
  private val owner = mutable.Map.empty[Long, String]

  sc.addSparkListener(this)

  private def counterOf(span: Int): SpanCounters = synchronized(counters.getOrElseUpdate(span, new SpanCounters))

  private def spanOfProps(p: java.util.Properties): Int =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.jobGroup.id"))).flatMap(_.toIntOption).getOrElse(-1)

  /** Run `body` as one benchmark op: a root span of its own trace. */
  def op[T](name: String)(body: => T): T = {
    traceSeq += 1
    curTrace = traceSeq
    span("bench", name)(body)
  }

  /** Run `body` inside a span of `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, s"$layer.$name", layer, parent.map(_.id).getOrElse(-1), curTrace, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, s.name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        parent match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A layer call that returns a lazy frame: the span times the call
    * (plan construction) and the attributes it introduces are recorded,
    * so when an action later executes the frame, the plan nodes that
    * produce them are attributed to this layer.
    */
  def lazyCall(layer: String, name: String, inputs: DataFrame*)(body: => DataFrame): DataFrame =
    if (!enabled) body
    else {
      val df = span(layer, name)(body)
      val seen = inputs.flatMap(_.queryExecution.analyzed.output.map(_.exprId.id)).toSet
      val label = s"$layer.$name"
      synchronized {
        df.queryExecution.analyzed.foreach { node =>
          node.expressions.foreach(_.foreach {
            case a: Alias if !seen.contains(a.exprId.id) && !owner.contains(a.exprId.id) =>
              owner(a.exprId.id) = label
            case _ =>
          })
        }
      }
      df
    }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drain(sc)

  // ---- listener ----

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val s = spanOfProps(e.properties)
    if (s >= 0) counterOf(s).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) {
    val s = spanOfProps(e.properties)
    synchronized(stageSpan(e.stageInfo.stageId) = s)
    if (s >= 0) counterOf(s).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    if (m.peakExecutionMemory > peakExecMem) peakExecMem = m.peakExecutionMemory
    if (!enabled) return
    val s = synchronized(stageSpan.getOrElse(e.stageId, -1))
    if (s < 0) return
    val c = counterOf(s)
    val info = e.taskInfo
    val sched = math.max(
      0L,
      info.duration - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime
    )
    synchronized {
      c.tasks += 1
      c.taskBusyNs += m.executorRunTime * 1000000L
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.schedDelayMs += sched
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = if (enabled) event match {
    case e: SparkListenerSQLExecutionStart =>
      val s = e.jobGroupId.flatMap(_.toIntOption).getOrElse(-1)
      synchronized(execSpan(e.executionId) = s)
    case e: SparkListenerSQLExecutionEnd =>
      val s = synchronized(execSpan.remove(e.executionId).getOrElse(-1))
      // the QueryExecution rides on the event but is not public API
      val qe = e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution]
      if (s >= 0 && qe != null) recordPlan(s, qe)
    case _ =>
  }

  private def recordPlan(spanId: Int, qe: QueryExecution): Unit = {
    val c = counterOf(spanId)
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val weights = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val spanName = synchronized(spans(spanId).name)
    walk(qe.executedPlan, spanName, inCodegen = false) { (node, label, inCodegen) =>
      val m = node.metrics
      def v(k: String): Long = m.get(k).map(_.value).getOrElse(0L)
      def ms(k: String): Double =
        m.get(k).map(x => if (x.metricType == "nsTiming") x.value / 1e6 else x.value.toDouble).getOrElse(0.0)
      val name = node.nodeName
      synchronized {
        if (isScan(node)) {
          c.scanRows += v("numOutputRows")
          c.scanBytes += v("filesSize")
        }
        node match {
          case w: DataWritingCommandExec =>
            val cm = w.cmd.metrics
            c.writeBytes += cm.get("numOutputBytes").map(_.value).getOrElse(0L)
            c.filesWritten += cm.get("numFiles").map(_.value).getOrElse(0L)
          case _ =>
        }
        if (name == "ObjectHashAggregate") c.objAggNs += (ms("aggTime") * 1e6).toLong
        if (name == "Sort") c.sortNs += (ms("sortTime") * 1e6).toLong
      }
      // node weight for splitting an action's time among layers: a fused
      // codegen stage's pipeline time, a write's commit time, else the
      // node's own time metrics (exchanges: shuffle write time)
      val w = node match {
        case _: WholeStageCodegenExec => ms("pipelineTime")
        case d: DataWritingCommandExec =>
          d.cmd.metrics.filter(_._1.endsWith("CommitTime")).values.map(_.value.toDouble).sum
        case _ => ms("shuffleWriteTime") + (if (inCodegen) 0.0 else ms("aggTime") + ms("sortTime") + ms("buildTime"))
      }
      if (w > 0) weights(label) += w
    }
    synchronized {
      c.planNs += planMs * 1000000L
      qe.observedMetrics.foreach { case (n, row) =>
        if (n.startsWith("graft_vol::")) c.volumes(n.stripPrefix("graft_vol::").split("::")(0)) += row.getLong(0)
      }
      val sp = spans(spanId)
      weights.foreach { case (k, w) => sp.nodeWeight(k) += w }
    }
  }

  private def isScan(p: SparkPlan): Boolean =
    p.nodeName.startsWith("Scan ") || p.nodeName.startsWith("FileScan")

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _ => p.children ++ p.subqueries
  }

  /** The label owning an attribute `p` introduces (an output its
    * children do not produce, or an alias it defines), if any.
    */
  private def ownLabel(p: SparkPlan): Option[String] =
    if (isScan(p)) Some("sources.scan")
    else if (p.isInstanceOf[DataWritingCommandExec]) Some("sources.write")
    else p match {
      case w: WholeStageCodegenExec => ownLabel(w.child)
      // a node evaluating one of the program's native expressions or
      // aggregates (graft.functions) is that layer's kernel
      case _ if p.expressions.exists(_.exists(_.getClass.getName.startsWith("graft.functions."))) =>
        Some("functions.kernel")
      case _ =>
        val childIds = children(p).flatMap(_.output.map(_.exprId.id)).toSet
        val introduced = p.output.map(_.exprId.id).filterNot(childIds.contains) ++
          p.expressions.flatMap(_.collect { case a: Alias => a.exprId.id })
        synchronized(introduced.collectFirst(Function.unlift(owner.get)))
    }

  /** Walk a physical plan top-down through adaptive and query-stage
    * wrappers, labelling each node with [[ownLabel]], else its parent's
    * label (at the root: the span that ran the action).
    */
  private def walk(p: SparkPlan, inherited: String, inCodegen: Boolean)(f: (SparkPlan, String, Boolean) => Unit): Unit = {
    val label = ownLabel(p).getOrElse(inherited)
    f(p, label, inCodegen)
    val nowCodegen = (inCodegen || p.isInstanceOf[WholeStageCodegenExec]) && !p.isInstanceOf[QueryStageExec]
    // the query feeding a write is not the write's own work
    val down = if (p.isInstanceOf[DataWritingCommandExec]) inherited else label
    children(p).foreach(walk(_, down, nowCodegen)(f))
  }

  /** Per-stage straggler ratios (max / median task time) for stages with
    * at least two tasks.
    */
  def stragglerRatios: Seq[Double] = synchronized {
    stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).toDouble
      if (med <= 0) 1.0 else s.last / med
    }.toSeq
  }

  def codegenNs: Long = CodeGenerator.compileTime
}
