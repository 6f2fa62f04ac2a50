package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload, one fresh session, closed loop.
  *
  *   perfbench.Main --workload <admin_sweep|ingest_stream|serve_mix> --seed <n>
  *     --seconds <s> --trace <0|1> --inputs <dir> --work <dir> --out <file>
  *
  * With --trace 0 the whole window runs untraced. With --trace 1 the first
  * half runs untraced and the second half traced (spans + Spark listeners),
  * so the result carries both and the tracing overhead is their ratio.
  * Writes one JSON object to --out; perfbench/run.py turns it into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val mainStartMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val inputs = opt("inputs")

    val cores = Runtime.getRuntime.availableProcessors()
    // production session defaults; only the scratch directories are moved
    // into the benchmark's own work directory
    val spark = graft.GraftSession.builder(s"local[$cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tracer.init(spark.sparkContext)
    val sessionReadyMs = System.currentTimeMillis()
    System.err.println(s"[perfbench] session ready ${(sessionReadyMs - mainStartMs) / 1e3} s after main")

    val workload: Workload = workloadName match {
      case "admin_sweep" => new AdminSweep(spark, inputs, work)
      case "ingest_stream" => new IngestStream(spark, inputs, work)
      case "serve_mix" => new ServeMix(spark, inputs, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      workload.setup()
      val setupDoneMs = System.currentTimeMillis()

      val windows = Seq.newBuilder[Map[String, Any]]
      val recs = Seq.newBuilder[Recorder]
      var layers = Map.empty[String, Double]
      if (!traced) {
        val (rec, w) = window(workload, seconds, traced = false)(run => run())
        recs += rec; windows += w
      } else {
        val (rec0, w0) = window(workload, seconds / 2, traced = false)(run => run())
        recs += rec0; windows += w0
        val collector = new Collector(spark)
        val gc0 = gcMillis()
        ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
        val (rec1, w1) = window(workload, seconds / 2, traced = true) { run =>
          collector.install()
          Tracer.clear()
          Tracer.enabled = true
          try run() finally { Tracer.enabled = false; collector.uninstall() }
        }
        workload match {
          case i: IngestStream => i.gateSpans(collector.progress.asScala.toSeq)
          case _ =>
        }
        val base = w1("base").asInstanceOf[(Long, Long)]
        val primaryOps = rec1.opList
        val nOps = math.max(1, primaryOps.count(o => o.kind == workload.primaryKind && o.ok))
        layers = Layers.derive(primaryOps, workload.primaryKind, collector, base._1, base._2) ++ Map(
          "caching.entries_end" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
          "jvm.gc_s_per_op" -> (gcMillis() - gc0) / 1000.0 / nOps,
          "jvm.heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP)
            .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0))
        writeSpans(s"$work/spans.jsonl")
        recs += rec1; windows += w1
      }
      val allRecs = recs.result()
      workload.check(allRecs)
      val result = Map(
        "workload" -> workloadName,
        "primary_kind" -> workload.primaryKind,
        "latency_of" -> (if (workload.latencyOfRounds) "round" else "op"),
        "cores" -> cores,
        "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
        "main_start_ms" -> mainStartMs,
        "session_ready_ms" -> sessionReadyMs,
        "setup_done_ms" -> setupDoneMs,
        "peak_rss_mb" -> peakRssMb(),
        "windows" -> windows.result().zip(allRecs).map { case (w, rec) =>
          (w - "base") ++ Map(
            "ops" -> rec.opList.map(o => Map("id" -> o.id, "kind" -> o.kind, "name" -> o.name,
              "client" -> o.client, "s" -> o.seconds, "ok" -> o.ok, "items" -> o.items,
              "rows" -> o.rows, "error" -> o.error)),
            "rounds" -> rec.roundList.map(r => Map("s" -> r.seconds, "ok" -> r.ok)))
        },
        "layers" -> layers,
        "extras" -> workload.extras(),
        "info" -> workload.info())
      Files.writeString(Paths.get(opt("out")), Json.render(result))
    } finally {
      workload match { case i: IngestStream => i.stop(); case _ => }
      spark.stop()
    }
  }

  /** Time a set-up phase, reported on stderr. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Run one measurement window; `wrap` brackets the loop (tracing on/off). */
  private def window(w: Workload, seconds: Double, traced: Boolean)(
      wrap: (() => Unit) => Unit): (Recorder, Map[String, Any]) = {
    val rec = new Recorder
    var base = (0L, 0L)
    var t0, t1 = 0L
    wrap { () =>
      base = (System.nanoTime(), System.currentTimeMillis())
      t0 = System.nanoTime()
      w.measure(seconds, rec)
      t1 = System.nanoTime()
    }
    (rec, Map("traced" -> traced, "wall_s" -> (t1 - t0) / 1e9, "base" -> base))
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** VmHWM of this process in MB (2^20 bytes), or -1 where /proc is absent. */
  private def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  private def writeSpans(path: String): Unit = {
    val lines = Tracer.spans.asScala.toSeq.sortBy(_.startNs).map(s => Json.render(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Harness self-check without Spark: an op that throws is recorded as failed
  * and contributes no timing sample. Exits non-zero on a violation.
  *   java -cp <classes> perfbench.SelfTest */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val rec = new Recorder
    rec.run("tool", "ok")(Array(1, 2, 3))(a => (1L, a.length.toLong))
    val thrown = rec.run("tool", "boom")(throw new IllegalStateException("injected"))(
      (_: Nothing) => (1L, 0L))
    val ops = rec.opList
    val boom = ops.find(_.name == "boom")
    val good = ops.find(_.name == "ok")
    val problems = Seq(
      "thrown op returned a result" -> thrown.isDefined,
      "thrown op not recorded" -> boom.isEmpty,
      "thrown op counted as ok" -> boom.exists(_.ok),
      "thrown op lost its error" -> boom.exists(_.error == null),
      "good op failed" -> !good.exists(_.ok)).collect { case (m, true) => m }
    println(Json.render(Map("attempted" -> ops.size, "failed" -> ops.count(!_.ok),
      "problems" -> problems)))
    if (problems.nonEmpty) sys.exit(1)
  }
}
