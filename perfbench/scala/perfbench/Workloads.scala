package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import graft.Caching
import graft.cluster.ClusterViews
import graft.operators._
import graft.plans.ActionPlans
import graft.reporters.{ClusterState, Reporters}
import graft.sources.Tables
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import Tracer.span

/** A closed-loop workload. `setup` builds what the timed loop needs and
  * warms the JVM; `measure` runs the loop until the deadline; `check`
  * verifies every recorded op's output and fails the ops whose output is
  * wrong. The primary op kind is the one whose latency is reported. */
trait Workload {
  def primaryKind: String
  /** Latency samples are whole rounds (one result needs every op of a
    * round) instead of single ops. */
  def latencyOfRounds: Boolean = false
  def setup(): Unit
  def measure(seconds: Double, rec: Recorder): Unit
  def check(recs: Seq[Recorder]): Unit
  def extras(): Map[String, Double] = Map.empty
  def info(): Map[String, Any] = Map.empty
}

object Workload {
  def fail(recs: Seq[Recorder], pred: OpRecord => Boolean, why: String): Int = {
    val bad = recs.flatMap(_.opList).filter(pred)
    bad.foreach(_.fail(why))
    if (bad.nonEmpty) System.err.println(s"[perfbench] check failed on ${bad.size} op(s): $why")
    bad.size
  }

  def dirStats(path: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toSeq
    (files.size.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
  }
}

// ---------------------------------------------------------------------------
// admin_sweep
// ---------------------------------------------------------------------------

/** One sweep = every admin tool over one cluster snapshot, then
  * `Caching.release` (the snapshot boundary); its latency is the time to
  * produce every tool output for the snapshot. Snapshots are cycled, so every
  * sweep rebuilds its cached views from files. The first sweep of each
  * snapshot runs during setup and dumps its outputs for the DuckDB oracle;
  * timed sweeps must reproduce those outputs hash-for-hash. */
final class AdminSweep(spark: SparkSession, inputs: String, work: String) extends Workload {
  import AdminSweep._
  val primaryKind = "tool"
  override val latencyOfRounds = true
  private val snaps = Iterator.from(0).map(j => s"$inputs/admin/snap$j")
    .takeWhile(d => new java.io.File(d).isDirectory).toIndexedSeq
  private val reference = new ConcurrentHashMap[(Int, String), Long]()
  private val outputs = new ConcurrentHashMap[(Int, String), (Seq[String], Array[Row])]()
  private val seen = new ConcurrentHashMap[Long, (Int, String, Long)]()
  private var next = 0

  /** One sweep; with a deadline, stops after the tool call that crosses it. */
  private def sweep(rec: Recorder, deadline: Long = Long.MaxValue): Unit = {
    val j = next % snaps.size
    next += 1
    val dir = snaps(j)
    val t0 = System.nanoTime()
    val done = Seq.newBuilder[OpRecord]
    val views = rec.run("boundary", "views") {
      span("cluster", "ClusterState.fromSf") {
        (ClusterState.fromSf(spark, dir), ClusterViews.topology(spark, dir))
      }
    }(_ => (0L, 0L))
    views.foreach { case (vr, (state, topo)) =>
      done += vr
      Tools.iterator.takeWhile(_ => System.nanoTime() < deadline).foreach { t =>
        var columns = Seq.empty[String]
        rec.run("tool", t.name) {
          val df = span(t.layer, t.call)(t.build(spark, dir, state, topo))
          columns = df.columns.toSeq
          span("engine", "collect")(df.collect())
        }(rows => (1L, rows.length.toLong)).foreach { case (r, rows) =>
          done += r
          val h = RowHash.of(rows)
          seen.put(r.id, (j, t.name, h))
          // the first output of each (snapshot, tool) is the one the DuckDB
          // oracle checks; every later one must hash-equal it
          if (reference.putIfAbsent((j, t.name), h) == null) outputs.put((j, t.name), (columns, rows))
        }
      }
    }
    rec.run("boundary", "release") {
      span("caching", "Caching.release")(Caching.release(spark))
    }(_ => (0L, 0L)).foreach(done += _._1)
    val ops = done.result()
    if (ops.count(_.kind == "tool") == Tools.size) rec.round(0, t0, ops)
  }

  /** Warm-up: one sweep of the first snapshot. */
  def setup(): Unit = {
    val warm = new Recorder
    Main.phase("warm-up sweep")(sweep(warm))
    val failed = warm.opList.filterNot(_.ok)
    if (failed.nonEmpty) throw new IllegalStateException(
      s"set-up sweep failed: ${failed.map(o => s"${o.name}: ${o.error}").mkString("; ")}")
  }

  def measure(seconds: Double, rec: Recorder): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) sweep(rec, deadline)
  }

  def check(recs: Seq[Recorder]): Unit =
    Workload.fail(recs, o => o.kind == "tool" && o.ok && Option(seen.get(o.id)).exists {
      case (j, name, h) => reference.get((j, name)) != h
    }, "tool output differs from the oracle-checked output of its snapshot")

  /** The reference outputs and the oracle SQL for the DuckDB check, and the
    * snapshot of each timed tool op, so an oracle failure found there fails
    * the ops of that snapshot. */
  override def info(): Map[String, Any] = Map(
    "op_snapshot" -> seen.asScala.map { case (id, (j, _, _)) => id.toString -> j }.toMap,
    "snapshots" -> snaps.size,
    "oracle_sql" -> OracleNames.map(n => n -> oracles(n)).toMap,
    "outputs" -> outputs.asScala.toSeq.groupBy(_._1._1).map { case (j, xs) =>
      j.toString -> xs.map { case ((_, tool), (cols, rows)) =>
        tool -> Map("columns" -> cols, "rows" -> rows.map(_.toSeq))
      }.toMap
    })
}

object AdminSweep {
  final case class Tool(name: String, layer: String, call: String,
      build: (SparkSession, String, ClusterState, DataFrame) => DataFrame)

  // thresholds tuned to fixture-scale region sizes, as the contract queries use
  private val SmallMb = 7000L
  private val MaxMergedMb = 15000L

  /** The paper's tool surface: compaction, merge, split, move/balance,
    * the analyzer, the reporter framework, topology as-of/diff/key lookup
    * and the typed action plans (the fix-script path). Heavy and light
    * tools alternate, so a window that ends mid-sweep samples the same
    * mix as a whole sweep. */
  val Tools: Seq[Tool] = Seq(
    Tool("compaction_plan", "operators", "CompactionOps.plan", (_, _, s, _) => CompactionOps.plan(s.metrics)),
    Tool("topology_asof", "operators", "TopologyOps.asOf",
      (_, _, _, t) => TopologyOps.asOf(t, TopologyOps.T2)),
    Tool("reporters_run_all", "reporters", "Reporters.runAll", (_, _, s, _) => Reporters.runAll(s).toDF()),
    Tool("split_plan", "operators", "SplitterOps.splitPlan",
      (_, _, s, _) => SplitterOps.splitPlan(s.regionInfo, s.metrics)),
    Tool("merge_plan", "operators", "MergerOps.mergePlan",
      (_, _, s, _) => MergerOps.mergePlan(s.regionInfo, s.metrics, SmallMb, MaxMergedMb)),
    Tool("balance_moves", "operators", "DistributionOps.balanceMoves",
      (_, _, s, _) => DistributionOps.balanceMoves(s.metrics, s.servers)),
    Tool("action_plans", "plans", "ActionPlans.toFindings", { (spark, dir, _, _) =>
      Seq(
        ActionPlans.toFindings(ActionPlans.compactionActions(spark, dir).toDF(), "compact"),
        ActionPlans.toFindings(ActionPlans.mergeActions(spark, dir).toDF(), "merge"),
        ActionPlans.toFindings(ActionPlans.moveActions(spark, dir).toDF(), "move"),
        ActionPlans.toFindings(ActionPlans.splitActions(spark, dir).toDF(), "split"),
        ActionPlans.toFindings(ActionPlans.flushActions(spark, dir).toDF(), "flush"),
        ActionPlans.toFindings(ActionPlans.clearQueueActions(spark).toDF(), "clear_queues")
      ).reduce(_ unionByName _).toDF()
    }),
    Tool("weight_stats", "operators", "AnalyzerOps.weightStats", (_, _, s, _) => AnalyzerOps.weightStats(s.metrics)),
    Tool("topology_diff", "operators", "TopologyOps.diff", (_, _, _, t) => TopologyOps.diff(t)),
    Tool("key_lookup", "operators", "TopologyOps.keyRangeLookup", { (spark, dir, s, _) =>
      val keys = span("sources", "Tables.customer")(Tables.customer(spark, dir))
        .select(((col("c_custkey") * 7919) % 2100000).as("probe_key"))
      TopologyOps.keyRangeLookup(keys, s.regionInfo)
    }))

  /** Oracle SQL the repository carries for these tools (and for the
    * cross-checks of the reporter and action-plan outputs). */
  val OracleNames: Seq[String] = Seq(
    "compaction_plan", "merge_plan", "split_plan", "balance_moves", "weight_stats",
    "topology_asof", "topology_diff", "key_lookup", "move_plan", "flush_queue", "mergeables",
    "load_vs_avg", "sev_rollup", "heap_pressure", "stale_rit", "snap_stats")

  private lazy val oracles: Map[String, String] = Seq(
    graft.CompactionPack, MergerPack, SplitterPack, DistributionPack, AnalyzerPack, ReportPack,
    TopologyPack, CoveragePack).flatMap(_.oracles).toMap
}

// ---------------------------------------------------------------------------
// ingest_stream
// ---------------------------------------------------------------------------

/** One op = one micro-batch through `StreamingOps.dedupIngestGateStream`:
  * from `addData` until the trigger has emitted its verdicts and committed
  * its survivors. After every batch that the generator scheduled deletes
  * for, `deleteFromIndex` then `compactIndex` run as maintenance ops. */
final class IngestStream(spark: SparkSession, inputs: String, work: String) extends Workload {
  import spark.implicits._
  val primaryKind = "batch"
  private val dir = s"$work/index/dedup"
  private case class Doc(id: Long, text: String, verdict: String, dupOf: Option[Long])
  private val batches: IndexedSeq[IndexedSeq[Doc]] = {
    val rows = spark.read.parquet(s"$inputs/ingest/batches.parquet").collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map(_._2.map(r =>
      Doc(r.getLong(1), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toIndexedSeq.sortBy(_.id)).toIndexedSeq
  }
  private val deletes: Map[Int, Seq[Long]] =
    spark.read.parquet(s"$inputs/ingest/deletes.parquet").collect()
      .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)).toSeq }
  private lazy val corpusIds: Set[Long] =
    spark.read.parquet(s"$inputs/ingest/corpus.parquet").select("doc_id").collect().map(_.getLong(0)).toSet

  private val verdicts = new ConcurrentHashMap[Long, Array[Row]]()
  private val emitted = new ConcurrentHashMap[Long, (Long, Long)]()
  private val fed = new ConcurrentHashMap[Long, Int]()       // op id -> batch index
  private val streamBatch = new ConcurrentHashMap[Int, Long]() // batch index -> stream batch id
  private val deleted = scala.collection.mutable.LinkedHashSet.empty[Long]
  private var next = 0
  private var input: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)] = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  def setup(): Unit = {
    Main.phase("dedup index")(
      DedupIndexOps.writeIndex(spark.read.parquet(s"$inputs/ingest/corpus.parquet"), dir))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    query = StreamingOps.dedupIngestGateStream(df, dir, s"$work/checkpoint", (report, batchId) => {
      val t0 = System.nanoTime()
      val rows = span("engine", "collect")(report.collect())
      verdicts.put(batchId, rows)
      emitted.put(batchId, (t0, System.nanoTime()))
    })
    // warm-up, untimed: one batch and one maintenance step (deleting ids
    // from the last scheduled step, which no run reaches)
    val warm = new Recorder
    Main.phase("warm-up")({ feed(warm); maintain(warm, force = true) })
    warm.opList.foreach(o => System.err.println(f"[perfbench] warm ${o.name} ${o.seconds}%.2f"))
    if (warm.opList.exists(!_.ok)) throw new IllegalStateException(
      s"warm-up failed: ${warm.opList.filterNot(_.ok).map(_.error).mkString("; ")}")
  }

  private def feed(rec: Recorder): Option[OpRecord] = {
    require(next < batches.size, s"ran out of generated batches (${batches.size})")
    val b = next
    next += 1
    val docs = batches(b)
    val before = verdicts.size
    val r = rec.run("batch", "gate") {
      span("streaming", "MemoryStream.addData")(input.addData(docs.map(d => (d.id, d.text))))
      span("streaming", "processAllAvailable")(query.processAllAvailable())
      val ids = verdicts.keySet.asScala.map(_.longValue)
      require(verdicts.size == before + 1, s"batch $b produced ${verdicts.size - before} triggers")
      ids.max
    }(_ => (docs.size.toLong, docs.size.toLong))
    r.map { case (op, sb) => fed.put(op.id, b); streamBatch.put(b, sb); op }
  }

  private def maintain(rec: Recorder, force: Boolean = false): Seq[OpRecord] = {
    val b = next - 1
    val ids = deletes.getOrElse(b, if (force) deletes.toSeq.sortBy(-_._1).head._2.take(5) else Nil)
    if (ids.isEmpty) return Nil
    val d = rec.run("maintenance", "delete") {
      span("lifecycle", "DedupIndexOps.deleteFromIndex")(
        DedupIndexOps.deleteFromIndex(spark, dir, ids.toDF("doc_id")))
    }(_ => (ids.size.toLong, 0L))
    if (d.isDefined) deleted ++= ids
    val c = rec.run("maintenance", "compact") {
      span("lifecycle", "DedupIndexOps.compactIndex")(DedupIndexOps.compactIndex(spark, dir))
    }(_ => (0L, 0L))
    (d.toSeq ++ c.toSeq).map(_._1)
  }

  def measure(seconds: Double, rec: Recorder): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var t0 = System.nanoTime()
    var ops = Seq.empty[OpRecord]
    while (System.nanoTime() < deadline) {
      ops ++= feed(rec)
      val m = maintain(rec)
      if (m.nonEmpty) { rec.round(0, t0, ops ++ m); ops = Nil; t0 = System.nanoTime() }
    }
  }

  /** Verdicts of every fed batch must equal the planted classes, and the
    * index's committed ids must equal corpus + ingested - deleted. */
  def check(recs: Seq[Recorder]): Unit = {
    def wrong(b: Int): Option[String] = {
      val got = Option(streamBatch.get(b)).flatMap(sb => Option(verdicts.get(sb))).getOrElse(Array.empty[Row])
        .map(r => r.getLong(0) -> (r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      val want = batches(b).map(d => d.id -> (d.verdict, d.dupOf,
        if (d.dupOf.isDefined) Some(10000L) else None))
      if (got.length != want.size || got.toMap != want.toMap) {
        val diff = want.filterNot(w => got.toMap.get(w._1).contains(w._2)).take(3)
        Some(s"batch $b: ${got.length} verdicts for ${want.size} docs; first mismatches $diff")
      } else None
    }
    val fedOps = recs.flatMap(_.opList).filter(o => o.kind == "batch" && fed.containsKey(o.id))
    fedOps.foreach(o => wrong(fed.get(o.id)).foreach(o.fail))
    (0 until next).foreach(b => if (!fed.values.asScala.exists(_ == b)) wrong(b).foreach(w =>
      throw new IllegalStateException(s"warm-up $w")))
    val ingested = batches.take(next).flatten.filter(_.verdict == "ingested").map(_.id).toSet
    val expected = corpusIds -- deleted ++ ingested
    val candidates = (corpusIds ++ batches.take(next).flatten.map(_.id)).toSeq.toDF("doc_id")
    val committed = IndexLifecycle.committedProbe(spark, dir, "doc_id", candidates)
      .collect().map(_.getLong(0)).toSet
    if (committed != expected)
      Workload.fail(recs, _.kind == "batch", s"committed ids differ from ingested ids: " +
        s"${(committed -- expected).size} unexpected, ${(expected -- committed).size} missing")
    liveDocs = expected.size
  }

  private var liveDocs = 0

  /** The gate's own time inside each trigger: the progress event's addBatch
    * duration ends where the emit callback begins. */
  def gateSpans(progress: Seq[Collector.ProgressEv]): Unit = progress.foreach { p =>
    for ((e0, e1) <- Option(emitted.get(p.batchId)); ab <- p.durations.get("addBatch"))
      Tracer.synthetic("operators", "StreamingOps.dedupIngestGateStream", e1 - ab * 1000000L, e0)
  }

  override def extras(): Map[String, Double] = {
    val (files, bytes) = Workload.dirStats(dir)
    Map("lifecycle.index_files" -> files.toDouble,
      "lifecycle.index_bytes_per_doc" -> bytes.toDouble / math.max(1, liveDocs))
  }

  def stop(): Unit = if (query != null) query.stop()
}

// ---------------------------------------------------------------------------
// serve_mix
// ---------------------------------------------------------------------------

/** Two client threads on one session; each call draws, by seed, one of the
  * three read-only serves against indexes built at setup. Six consecutive
  * calls of a client form one interactive session (its round). */
final class ServeMix(spark: SparkSession, inputs: String, work: String, seed: Long)
    extends Workload {
  import spark.implicits._
  val primaryKind = "serve"
  val Clients = 2
  val SessionCalls = 6
  private val annDir = s"$work/index/ann"
  private val bm25Dir = s"$work/index/bm25"
  private val dedupDir = s"$work/index/dedup"
  private lazy val docs = spark.read.parquet(s"$inputs/serve/docs.parquet")
  private lazy val emb = spark.read.parquet(s"$inputs/serve/embeddings.parquet")
  private val annPool: IndexedSeq[Seq[(Long, Seq[Float])]] =
    spark.read.parquet(s"$inputs/serve/ann_queries.parquet").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(r => (r.getLong(1), r.getSeq[Float](2))).toSeq.sortBy(_._1)).toIndexedSeq
  private val bm25Pool: IndexedSeq[Seq[String]] =
    spark.read.parquet(s"$inputs/serve/bm25_queries.parquet").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1).map(_._2.map(_.getString(1)).toSeq.sorted).toIndexedSeq
  private val dedupPool: IndexedSeq[(Seq[(Long, String)], Set[(Long, Long)])] =
    spark.read.parquet(s"$inputs/serve/dedup_queries.parquet").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
        (rs.map(r => (r.getLong(1), r.getString(2))).toSeq.sortBy(_._1),
          rs.filterNot(_.isNullAt(3)).map(r => (r.getLong(1), r.getLong(3))).toSet)
      }.toIndexedSeq
  val Kinds = Seq("ann", "bm25", "dedup")
  private val served = new ConcurrentHashMap[Long, (String, Int, Array[Row])]()
  @volatile private var window = 0

  private def build(kind: String, item: Int): DataFrame = kind match {
    case "ann" => span("operators", "AnnIndexOps.servedTopK")(
      AnnIndexOps.servedTopK(spark, annDir, annPool(item).toDF("vec_id", "embedding")))
    case "bm25" => span("operators", "RetrievalOps.bm25ServedTopK")(
      RetrievalOps.bm25ServedTopK(spark, bm25Dir, bm25Pool(item)))
    case "dedup" => span("operators", "DedupIndexOps.servedDupes")(
      DedupIndexOps.servedDupes(spark, dedupDir, dedupPool(item)._1.toDF("doc_id", "text")))
  }

  private def client(c: Int, deadline: Long, rec: Recorder, maxCalls: Int): Unit = {
    val rng = new java.util.SplittableRandom(seed * 7919L + window * 31L + c)
    var calls = 0
    var session = Seq.empty[OpRecord]
    var t0 = System.nanoTime()
    while (System.nanoTime() < deadline && calls < maxCalls) {
      val kind = Kinds(rng.nextInt(Kinds.size))
      val item = rng.nextInt(kind match {
        case "ann" => annPool.size; case "bm25" => bm25Pool.size; case _ => dedupPool.size })
      rec.run("serve", kind, client = c) {
        span("engine", "collect")(build(kind, item).collect())
      }(rows => (1L, rows.length.toLong)).foreach { case (op, rows) =>
        served.put(op.id, (kind, item, rows))
        session :+= op
      }
      calls += 1
      if (calls % SessionCalls == 0) {
        rec.round(c, t0, session); session = Nil; t0 = System.nanoTime()
      }
    }
  }

  private def runClients(seconds: Double, rec: Recorder, maxCalls: Int): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    window += 1
    val threads = (0 until Clients).map(c => new Thread(() => client(c, deadline, rec, maxCalls),
      s"perfbench-client-$c"))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def setup(): Unit = {
    Main.phase("ann index")(AnnIndexOps.writeIndex(emb, annDir))
    Main.phase("bm25 index")(RetrievalOps.bm25WriteIndex(docs, bm25Dir))
    Main.phase("dedup index")(DedupIndexOps.writeIndex(docs, dedupDir))
    val warm = new Recorder
    Main.phase("warm-up")(runClients(1e6, warm, maxCalls = 3))
    warm.opList.foreach(o => System.err.println(f"[perfbench] warm ${o.name} ${o.seconds}%.2f"))
    if (warm.opList.exists(!_.ok)) throw new IllegalStateException(
      s"warm-up failed: ${warm.opList.filterNot(_.ok).map(_.error).mkString("; ")}")
  }

  def measure(seconds: Double, rec: Recorder): Unit = runClients(seconds, rec, Int.MaxValue)

  /** Every dedup serve must return exactly its planted pairs; a seeded
    * sample of ANN and BM25 serves must equal a re-serve and the library's
    * in-memory counterpart; the stored ANN path must equal the in-memory
    * IVF-PQ chain on corpus queries. */
  def check(recs: Seq[Recorder]): Unit = {
    val ops = recs.flatMap(_.opList).filter(o => o.kind == "serve" && served.containsKey(o.id))
    val sample = new java.util.SplittableRandom(seed ^ 0x5eedL)
    var budget = Map("bm25" -> 3, "ann" -> 2)  // sampled re-checks are Spark jobs: keep them few
    ops.foreach { o =>
      val (kind, item, rows) = served.get(o.id)
      val got = rows.toSet
      kind match {
        case "dedup" =>
          val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
          if (pairs != dedupPool(item)._2 || rows.exists(_.getLong(2) != 10000L))
            o.fail(s"dedup serve $item: pairs differ from the planted re-sends")
        case "bm25" if sample.nextInt(3) == 0 && budget("bm25") > 0 =>
          budget = budget.updated("bm25", budget("bm25") - 1)
          val ref = RetrievalOps.bm25TopK(docs, bm25Pool(item)).collect().toSet
          if (got != ref) o.fail(s"bm25 serve $item differs from bm25TopK over the corpus")
        case "ann" if sample.nextInt(3) == 0 && budget("ann") > 0 =>
          budget = budget.updated("ann", budget("ann") - 1)
          val again = build("ann", item).collect().toSet
          if (got != again) o.fail(s"ann serve $item differs from its re-serve")
        case _ =>
      }
    }
    val nq = 4
    val queries = emb.filter(col("vec_id") < nq).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.toDF("vec_id", "embedding")
    val stored = AnnIndexOps.servedTopK(spark, annDir, queries).collect().toSet
    val inMemory = PqOps.ivfPqResidualTrainedTopK(emb, nq).collect().toSet
    if (stored != inMemory)
      Workload.fail(recs, o => o.kind == "serve" && Option(served.get(o.id)).exists(_._1 == "ann"),
        "stored ANN serve differs from the in-memory IVF-PQ chain")
  }

  override def extras(): Map[String, Double] = {
    val stats = Seq(annDir, bm25Dir, dedupDir).map(Workload.dirStats)
    Map("lifecycle.index_files" -> stats.map(_._1).sum.toDouble)
  }
}
