package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns one traced window (client spans + listener events) into per-layer
  * numbers. Listener times are epoch milliseconds; client spans are
  * converted with the (nanoTime, epoch) pair taken when the window began.
  *
  * Attribution: a job belongs to the op whose job group it carries, else to
  * the op running when it started (unambiguous with one client); its parent
  * span is the span named by its `perfbench.span` property, else the
  * innermost span of that op containing its start. A query execution
  * belongs to the op of its jobs, else to the op running when it ended.
  * Catalyst phases (QueryPlanningTracker) and merged job intervals become
  * child spans of the client span containing them, so a layer's self time
  * is its spans' duration minus the part covered by child spans. */
object Layers {
  val ClientLayers = Seq("cluster", "reporters", "plans", "operators", "lifecycle", "sources",
    "streaming", "caching")
  val All: Seq[String] = ClientLayers ++ Seq("catalyst", "engine", "harness")
  private val MB = 1024.0 * 1024.0

  private final case class Iv(id: Long, op: Long, layer: String, name: String, s: Double, e: Double,
      var parent: Long) {
    def dur: Double = math.max(0.0, e - s)
  }

  private def unionLength(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: (Double, Double) = null
    ivs.sortBy(_._1).foreach { iv =>
      if (cur == null) cur = iv
      else if (iv._1 <= cur._2) cur = (cur._1, math.max(cur._2, iv._2))
      else { total += cur._2 - cur._1; cur = iv }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }

  def derive(ops: Seq[OpRecord], primary: String, c: Collector, baseNs: Long, baseMs: Long)
      : Map[String, Double] = {
    def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
    val opIv = ops.map(o => o.id -> (ms(o.startNs), ms(o.endNs))).toMap
    def opAt(t: Double): Long = {
      val hits = opIv.collect { case (id, (s, e)) if t >= s - 1 && t <= e + 1 => id }
      if (hits.size == 1) hits.head else -1L
    }
    val spans = Tracer.spans.asScala.toSeq.map { s =>
      val op = if (opIv.contains(s.op)) s.op else opAt(ms(s.startNs))
      Iv(s.id, op, s.layer, s.name, ms(s.startNs), ms(s.endNs), s.parent)
    }.filter(_.op >= 0)
    val byOp = spans.groupBy(_.op)
    def innermost(op: Long, t: Double, exclude: Long = Long.MinValue): Long =
      byOp.getOrElse(op, Nil).filter(x => x.id != exclude && x.s <= t && t <= x.e)
        .sortBy(_.dur).headOption.map(_.id).getOrElse(op)
    spans.foreach(x => if (x.layer != "op" && x.parent < 0) x.parent = innermost(x.op, x.s, x.id))
    val spanIds = spans.map(x => x.id -> x).toMap

    // jobs -> (op, parent span)
    val jobs = c.jobs.values.asScala.toSeq.map { j =>
      val byGroup = Option(j.group).filter(_.startsWith(Tracer.GroupPrefix))
        .map(_.stripPrefix(Tracer.GroupPrefix).toLong).filter(opIv.contains)
      val op = byGroup.getOrElse(opAt(j.startMs.toDouble))
      val parent = spanIds.get(j.span).filter(_.op == op).map(_.id)
        .getOrElse(innermost(op, j.startMs.toDouble))
      (j, op, parent)
    }.filter(_._2 >= 0)
    val jobOp = jobs.map { case (j, op, _) => j.id -> op }.toMap
    val execOp = jobs.filter(_._1.execId >= 0).map { case (j, op, _) => j.execId -> op }.toMap
    val qes = c.qes.asScala.toSeq.map(q => (q, execOp.getOrElse(q.execId, opAt(q.endMs.toDouble))))
      .filter(_._2 >= 0)

    // synthesized children: catalyst phases and merged job intervals
    val children = mutable.Map.empty[Long, mutable.ArrayBuffer[(Double, Double)]]
    def addChild(parent: Long, iv: (Double, Double)) =
      children.getOrElseUpdate(parent, mutable.ArrayBuffer.empty) += iv
    spans.filter(_.layer != "op").foreach(x => addChild(x.parent, (x.s, x.e)))
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var catalystMs = 0.0
    qes.foreach { case (q, op) =>
      q.phases.filter(p => Set("analysis", "optimization", "planning")(p._1)).foreach { case (_, s, e) =>
        addChild(innermost(op, s.toDouble), (s.toDouble, e.toDouble))
        self("catalyst") += (e - s)
        catalystMs += (e - s)
      }
    }
    jobs.groupBy(_._3).foreach { case (parent, js) =>
      val ivs = js.map { case (j, _, _) => (j.startMs.toDouble, math.max(j.startMs, j.endMs).toDouble) }
      ivs.foreach(addChild(parent, _))
      self("engine") += unionLength(ivs)
    }
    spans.foreach { x =>
      val covered = unionLength(children.getOrElse(x.id, Nil).toSeq
        .map { case (s, e) => (math.max(s, x.s), math.min(e, x.e)) }.filter(iv => iv._2 > iv._1))
      val layer = if (x.layer == "op") "harness" else x.layer
      self(layer) += math.max(0.0, x.dur - covered)
    }

    // per-op counts
    val nOps = math.max(1, ops.count(o => o.kind == primary && o.ok)).toDouble
    val underEngine: Long => Boolean = { id =>
      var cur = spanIds.get(id)
      var hit = false
      while (cur.isDefined && !hit) { hit = cur.get.layer == "engine"; cur = spanIds.get(cur.get.parent) }
      hit
    }
    val eagerJobs = jobs.count { case (_, _, parent) => !underEngine(parent) }
    val stages = c.stages.asScala.toSeq.flatMap { case (sid, a) =>
      Option(c.stageJob.get(sid)).flatMap(j => jobOp.get(j)).map(_ => a)
    }
    def sum(f: Collector.StageAgg => Long) = stages.map(f).sum.toDouble
    val tasks = sum(_.tasks)
    val topOperators = spans.filter(x => x.layer == "operators" &&
      !spanIds.get(x.parent).exists(_.layer == "operators"))
    val progress = c.progress.asScala.toSeq
    def meanDur(k: String) = if (progress.isEmpty) 0.0
      else progress.map(_.durations.getOrElse(k, 0L)).sum.toDouble / progress.size
    def spanMean(name: String) = {
      val xs = spans.filter(_.name == name)
      if (xs.isEmpty) 0.0 else xs.map(_.dur).sum / xs.size / 1000.0
    }
    val leaves = qes.map(_._1.leaves).sum
    val rows = ops.filter(_.ok).map(_.rows).sum

    val perLayerSelf = All.map(l => s"$l.self_s_per_op" -> self(l) / 1000.0 / nOps)
    Map(
      "catalyst.plan_ms_per_action" -> (if (qes.isEmpty) 0.0 else catalystMs / qes.size),
      "catalyst.actions_per_op" -> qes.size / nOps,
      "operators.construct_s" -> topOperators.map(_.dur).sum / 1000.0 / nOps,
      "operators.eager_jobs_per_op" -> eagerJobs / nOps,
      "engine.jobs_per_op" -> jobs.size / nOps,
      "engine.tasks_per_op" -> tasks / nOps,
      "engine.task_busy_s" -> sum(_.runMs) / 1000.0 / nOps,
      "engine.task_wait_s" -> (if (tasks == 0) 0.0 else sum(_.waitMs) / 1000.0 / tasks),
      "engine.shuffle_mb" -> sum(_.shuffleBytes) / MB / nOps,
      "engine.spill_mb" -> sum(_.spillBytes) / MB / nOps,
      "engine.failed_tasks" -> sum(_.failed),
      "sources.read_mb_per_op" -> sum(_.bytesRead) / MB / nOps,
      "sources.rows_read_per_result_row" -> sum(_.recordsRead) / math.max(1L, rows),
      "sources.files_written_per_op" -> qes.map(_._1.filesWritten).sum / nOps,
      "sources.mb_written_per_op" -> qes.map(_._1.bytesWritten).sum / MB / nOps,
      "lifecycle.compact_s" -> spanMean("DedupIndexOps.compactIndex"),
      "lifecycle.delete_s" -> spanMean("DedupIndexOps.deleteFromIndex"),
      "streaming.trigger_s" -> meanDur("triggerExecution") / 1000.0,
      "streaming.add_batch_s" -> meanDur("addBatch") / 1000.0,
      "streaming.overhead_s" -> (meanDur("triggerExecution") - meanDur("addBatch")) / 1000.0,
      "streaming.wal_commit_ms" -> meanDur("walCommit"),
      "caching.hit_ratio" -> (if (leaves == 0) 0.0 else qes.map(_._1.inMemLeaves).sum.toDouble / leaves),
      "caching.built_mb_per_op" -> c.blocks.asScala.map(_._2).sum / MB / nOps
    ) ++ perLayerSelf
  }
}
