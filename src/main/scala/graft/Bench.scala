package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.tools.TimingSession.create(cpus)

    // the host hands out CPU unevenly in multi-minute bursts (observed
    // 10-50x slowdowns on random queries with ~zero steal); two passes and
    // a per-query minimum keep the measurement about the engine, not the
    // hypervisor weather. cpuProbe calibrates the window we ran in.
    def cpuProbe(): Double = {
      val t0 = System.nanoTime()
      var s = 0L; var j = 0
      while (j < 20000000) { s += j; j += 1 }
      if (s == Long.MinValue) println(s)
      (System.nanoTime() - t0) / 1e9
    }
    val probeBefore = cpuProbe()

    // headline set = the operator surface minus the documented
    // fixture-scale-only eval harnesses (their sampled production twins
    // are benched instead — see SparkEntry.benchExcluded). NAME-SORTED:
    // hash order reshuffles whenever the query set changes, silently
    // moving shared-cache build costs between queries across rounds
    // (r6→r7 cross_doc "regression" — the first query to touch a shared
    // cached frame pays its build); a fixed order keeps per-query
    // history comparable round over round.
    val headline = SparkEntry.queries.filterNot(q => SparkEntry.benchExcluded(q._1))
      .toSeq.sortBy(_._1)
    // cache-build attribution: registered-storage snapshot around each
    // query; bytes that appear (or grow) during a query are cache the
    // QUERY materialized — the direct evidence for "this query's time
    // includes building a frame its siblings then read for free"
    def storageSnap(): Map[Int, Long] =
      spark.sparkContext.getRDDStorageInfo
        .map(s => s.id -> (s.memSize + s.diskSize)).toMap
    val cacheBuiltBytes = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    // a query that throws in any pass has no timing: the line names it in
    // `failed` and keeps it out of every total
    val failed = scala.collection.mutable.Set.empty[String]
    val pass1Sec = scala.collection.mutable.Map.empty[String, Double]
    def onePass(pass: Int): Map[String, Double] =
      headline.map { case (name, fn) =>
        val before = storageSnap()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench-trace] pass$pass $name failed: $e")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val built = storageSnap().map { case (id, sz) =>
          math.max(0L, sz - before.getOrElse(id, 0L)) }.sum
        if (built > 0) cacheBuiltBytes(name) += built
        if (pass == 1) pass1Sec(name) = dt
        System.err.println(f"[bench-trace] pass$pass $name%-24s $dt%8.1f s" +
          (if (built > 0) f" cache+=${built / 1e6}%.1fMB" else ""))
        name -> dt
      }.toMap
    // cache-growth audit: sample registered storage at each pass boundary
    // and report the MAX — entries evicted mid-run would vanish from an
    // end-of-run-only snapshot exactly when pressure occurred
    var peakCached = (0, 0L, 0L)
    def sampleCache(): Unit = {
      val s = spark.sparkContext.getRDDStorageInfo
      val cur = (s.length, s.map(_.memSize).sum, s.map(_.diskSize).sum)
      if (cur._2 + cur._3 > peakCached._2 + peakCached._3) peakCached = cur
    }
    val p1 = onePass(1)
    sampleCache()
    // nudge the ContextCleaner between passes: drops pass-1 shuffle files
    // from /dev/shm before pass 2 re-measures
    System.gc()
    val p2 = onePass(2)
    sampleCache()
    val min2 = (p1 -- failed).map { case (k, v) => k -> math.min(v, p2(k)) }
    // the host stalls CPU in multi-minute bursts; when the two passes
    // disagree badly, one of them ran through a burst — a third pass makes
    // the per-query min robust to a single burst window
    val disagreement = min2.keys.map(k => math.abs(p1(k) - p2(k))).sum
    var ranPass3 = false
    val results =
      if (disagreement <= 0.25 * math.max(min2.values.sum, 1e-9)) min2
      else {
        ranPass3 = true
        System.err.println(f"[bench-trace] pass disagreement ${disagreement}%.1f s -> running pass 3")
        System.gc()
        val p3 = onePass(3)
        val m = min2.map { case (k, v) => k -> math.min(v, p3(k)) }
        sampleCache()
        m
      }
    val timed = results -- failed
    val probeAfter = cpuProbe()
    // max across the pass-boundary samples (140+ queries × 60+
    // maybeCache frames share one CacheManager) — the number BASELINE.md
    // tracks to rule cache pressure in or out when a query regresses
    System.err.println(f"[bench-cache] n_cached=${peakCached._1} " +
      f"mem_mb=${peakCached._2 / 1e6}%.0f disk_mb=${peakCached._3 / 1e6}%.0f (max over pass boundaries)")
    // per-query build attribution: who materialized shared caches, how
    // much, and the pass-1 overhead vs that query's reported (min) time —
    // the line that turns "query X regressed" into "query X built the
    // postings cache this round". Top builders only; full trace above.
    val attr = cacheBuiltBytes.toSeq.sortBy(-_._2).take(12).map { case (n, b) =>
      val over = math.max(0.0, pass1Sec.getOrElse(n, 0.0) - timed.getOrElse(n, 0.0))
      f"$n=${b / 1e6}%.1fMB/+${over}%.1fs"
    }
    System.err.println(attr.mkString("[bench-cache-attr] ", ",", ""))

    // keep this line SHORT: the driver tail-captures exactly 2000 chars —
    // the whole budget/degrade policy lives in graft.tools.BenchLine
    // (tested at 120+ queries). Full 3-decimal per-query values go to
    // stderr for local analysis.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val sorted = timed.toSeq.sortBy(_._1)
    System.err.println(sorted.map { case (k, v) => s"$k=${f3(v)}" }.mkString("[bench-full] ", ",", ""))
    val sfName = sfDir.split('/').last
    System.err.println(s"[bench-probe] cpu_probe_sec=[${f3(probeBefore)},${f3(probeAfter)}]")
    // window evidence rides the COMMITTED line (probes, pass-3 flag,
    // top cache builders) — the archived artifact answers "clean
    // window? who built the caches?" without the stderr trace
    val meta = graft.tools.BenchMeta(
      probeBefore, probeAfter, ranPass3,
      cacheBuiltBytes.toSeq.sortBy(-_._2).take(graft.tools.BenchLine.AttrTop)
        .map { case (n, b) => n -> b / 1e6 })
    println(graft.tools.BenchLine(timed, sfName, Some(meta), failed = failed.toSeq))
    spark.stop()
  }
}
