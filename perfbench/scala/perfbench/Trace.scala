package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each layer.
  *
  * Off by default: `span` then runs its body and nothing else. When on,
  * every span records (id, parent, op, layer, name, start, end) in memory;
  * the op's Spark job group and a `perfbench.span` local property are set
  * on the calling thread, so the listeners in [[Collector]] can attribute
  * jobs, stages and tasks to the op and span that caused them. Work on
  * threads the benchmark does not own (the streaming micro-batch thread)
  * carries no op; it is attributed to the op that was running at the time,
  * which is unambiguous whenever one client is running. */
object Tracer {
  final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
      startNs: Long, endNs: Long)

  val SpanKey = "perfbench.span"
  val GroupPrefix = "perfbench-op-"

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(1L << 40)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]]
  private val opOf = new ThreadLocal[java.lang.Long]
  private val active = new ConcurrentHashMap[java.lang.Long, String]()

  def init(context: SparkContext): Unit = sc = context

  def clear(): Unit = spans.clear()

  private def currentOp: Long = Option(opOf.get).map(_.longValue).getOrElse {
    val a = active.keySet.asScala.toSeq
    if (a.size == 1) a.head.longValue else -1L
  }

  def beginOp(id: Long, name: String): Unit = if (enabled) {
    opOf.set(id)
    stack.set(List(id))
    active.put(id, name)
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    sc.setLocalProperty(SpanKey, id.toString)
  }

  def endOp(id: Long, t0: Long): Unit = if (active.remove(id) != null) {
    spans.add(Span(id, 0L, id, "op", "op", t0, System.nanoTime()))
    opOf.remove()
    stack.remove()
    sc.clearJobGroup()
    sc.setLocalProperty(SpanKey, null)
  }

  /** Run `body` inside a span of `layer`. Spans on a thread without an op
    * get parent -1 and are placed under the innermost span that contains
    * them when the trace is analysed. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val op = currentOp
    val outer = Option(stack.get).getOrElse(Nil)
    val parent = outer.headOption.getOrElse(-1L)
    val id = ids.incrementAndGet()
    stack.set(id :: outer)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, op, layer, name, t0, System.nanoTime()))
      if (outer.isEmpty) stack.remove() else stack.set(outer)
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Record a span whose interval was measured elsewhere (after the traced
    * window; its op and parent are resolved by time). */
  def synthetic(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), -1L, -1L, layer, name, startNs, endNs))
}

/** Spark's public listeners, installed for the traced window only:
  * a SparkListener (jobs, stages, tasks, cache blocks), a
  * QueryExecutionListener (Catalyst phase times, leaf scans, write metrics)
  * and a StreamingQueryListener (per-trigger phase durations). */
final class Collector(spark: SparkSession) {
  import Collector._
  val jobs = new ConcurrentHashMap[Int, JobEv]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  val qes = new ConcurrentLinkedQueue[QeEv]()
  val blocks = new ConcurrentLinkedQueue[(Long, Long)]()
  val progress = new ConcurrentLinkedQueue[ProgressEv]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.put(e.jobId, new JobEv(e.jobId, prop("spark.jobGroup.id").orNull,
        prop(Tracer.SpanKey).map(_.toLong).getOrElse(-1L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageAgg).submitMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failed += 1
      if (a.submitMs > 0) a.waitMs += math.max(0L, e.taskInfo.launchTime - a.submitMs)
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.bytesRead += m.inputMetrics.bytesRead
        a.recordsRead += m.inputMetrics.recordsRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid)
        blocks.add((System.currentTimeMillis(), i.memSize + i.diskSize))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(qeEvent(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      qes.add(qeEvent(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress.add(ProgressEv(p.batchId, d))
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every event posted so far has been delivered, then detach. */
  def uninstall(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Collector {
  final class JobEv(val id: Int, val group: String, val span: Long, val execId: Long,
      val startMs: Long) { @volatile var endMs: Long = -1L }

  final class StageAgg {
    @volatile var submitMs = 0L
    var tasks = 0L; var failed = 0L; var runMs = 0L; var waitMs = 0L
    var bytesRead = 0L; var recordsRead = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  }

  final case class QeEv(execId: Long, endMs: Long, phases: Seq[(String, Long, Long)],
      inMemLeaves: Int, leaves: Int, filesWritten: Long, bytesWritten: Long)

  final case class ProgressEv(batchId: Long, durations: Map[String, Long])

  /** Leaves of the executed plan, looking through AQE stages; an in-memory
    * scan is a leaf (its cached plan is not walked). */
  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case r: ReusedExchangeExec => leaves(r.child)
    case m: InMemoryTableScanExec => Seq(m)
    case x if x.children.isEmpty => Seq(x)
    case x => x.children.flatMap(leaves)
  }

  private def writes(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case a: AdaptiveSparkPlanExec => writes(a.executedPlan)
    case q: QueryStageExec => writes(q.plan)
    case x => x.children.flatMap(writes)
  }

  def qeEvent(qe: QueryExecution): QeEv = {
    val phases = qe.tracker.phases.toSeq.map { case (n, s) => (n, s.startTimeMs, s.endTimeMs) }
    val (inMem, all, files, bytes) =
      try {
        val plan = qe.executedPlan
        val ls = leaves(plan)
        val ws = writes(plan).map(_.cmd.metrics)
        def metric(ms: Seq[Map[String, org.apache.spark.sql.execution.metric.SQLMetric]], k: String) =
          ms.flatMap(_.get(k)).map(_.value).sum
        (ls.count(_.isInstanceOf[InMemoryTableScanExec]), ls.size,
          metric(ws, "numFiles"), metric(ws, "numOutputBytes"))
      } catch { case scala.util.control.NonFatal(_) => (0, 0, 0L, 0L) }
    // attributed by time through its last planning phase, which runs inside
    // the op; the callback itself arrives later, on the listener bus
    val at = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_._3).max
    QeEv(qe.id, at, phases, inMem, all, files, bytes)
  }
}
