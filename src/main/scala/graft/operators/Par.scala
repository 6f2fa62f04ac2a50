package graft.operators

import org.apache.spark.sql.DataFrame

/** Scan-parallelism floor for per-doc COMPUTE pipelines (codec decode,
  * perceptual hashing, fingerprinting).
  *
  * The fixture corpora are single-file, single-ROW-GROUP parquet, so a
  * bare `documents` scan plans exactly ONE task no matter how small
  * `spark.sql.files.maxPartitionBytes` is (byte-range splits cannot cut
  * inside a row group) — and a `mapPartitions` decode chain downstream
  * of it runs on one core of local[32] while 31 idle. Measured on
  * `video_phash` at sf0.1: the whole 4.1 s query was one task.
  *
  * [[spread]] round-robins the narrow id projection out to the
  * session's default parallelism BEFORE the per-doc work. The exchange
  * carries 8-byte ids, never payloads — media bytes are constructed /
  * decoded AFTER the exchange, so this is the §8 "decide with small
  * rows, move big rows once" shape with zero payload moves. An input
  * that already plans >= defaultParallelism partitions (a real
  * many-file corpus at cluster scale) passes through untouched: the
  * helper only ever widens, so it is scale-adaptive rather than a
  * local[32] constant.
  */
object Par {
  /** SCAN-ONLY CONTRACT: pass scans / narrow projections with no
    * exchange below. The partition probe realizes the plan's RDD, which
    * is one extra physical planning for a scan but would eagerly
    * materialize query stages (run real jobs) under AQE if the plan
    * contained an exchange.
    *
    * Driver-assembled bounded batches (LocalRelation leaves — the
    * append/serve fixture inputs) are returned untouched without even
    * the probe: `LocalTableScanExec` already plans
    * min(rows, leafNodeDefaultParallelism) slices, so the repartition
    * could never fire and the probe is pure planning overhead on paths
    * called once per ingest batch. */
  /** Dev A/B knob (the SPARK_GRAFT_AQE convention): SPARK_GRAFT_SPREAD=false
    * turns every spread site into a pass-through, so a cold-cache window
    * can measure the fan-out's true cold-build value site-family by
    * site-family without patching call sites. Default on. */
  private val enabled: Boolean =
    sys.env.get("SPARK_GRAFT_SPREAD").forall(_.toBoolean)

  def spread(df: DataFrame): DataFrame = {
    if (!enabled) return df
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val allLocal = leaves.nonEmpty && leaves.forall {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }
    if (allLocal) return df
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** One shared pool of DAEMON threads for [[materializeConcurrently]]:
    * no pool built and torn down per call, and it can never keep a JVM
    * alive. Cached (unbounded): each call bounds its own in-flight count. */
  private lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    }

  /** Materialize INDEPENDENT frames concurrently (guide §2.6 "overlap
    * independent jobs"): actions are only sequential because driver code
    * calls them sequentially — submitting the eval harness's five
    * truth/found pipelines from a small thread pool lets the next
    * pipeline's tasks back-fill executors idled by the current one's
    * straggler tail. Each frame is EAGERLY `localCheckpoint`ed (blocks
    * GC-release with the frame; no CacheManager entry), so the returned
    * frames are materialized, order-stable, and cheap to union. FIFO
    * scheduling (the default) gives exactly the back-fill behaviour.
    * Results are unchanged — the same deterministic frames, computed on
    * overlapping wall-clock. Shared cached subtrees are safe: block-level
    * locking makes the second reader wait for the first writer.
    *
    * Each worker runs with the caller's local properties (job group,
    * scheduler pool, description). On the FIRST failure every job still
    * in flight for this call is cancelled (its tasks interrupted), frames
    * not yet started are skipped, and the failure's own exception is
    * rethrown — never an `ExecutionException` wrapper. */
  def materializeConcurrently(frames: Seq[DataFrame], maxInFlight: Int = 3): Seq[DataFrame] = {
    if (frames.size <= 1) return frames.map(_.localCheckpoint(true))
    val spark = frames.head.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sc = spark.sparkContext
    // every job of this call carries one tag, so a failure cancels
    // exactly this call's jobs
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val slots = new java.util.concurrent.Semaphore(maxInFlight)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val futs = frames.map { f =>
      org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(spark, pool) {
        slots.acquire()
        try {
          if (failure.get != null)
            throw new java.util.concurrent.CancellationException("a sibling frame failed")
          sc.addJobTag(tag)
          sc.setInterruptOnCancel(true)
          try f.localCheckpoint(true) finally sc.removeJobTag(tag)
        } catch {
          case e: Throwable =>
            if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag, "a sibling frame failed")
            throw e
        } finally slots.release()
      }
    }
    // wait for every worker (cancelled ones end promptly), then report
    // the first failure itself
    futs.foreach(f => scala.util.Try(f.join()))
    Option(failure.get).foreach(e => throw e)
    futs.map(_.join())
  }
}
