package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Library-level cache lifecycle.
  *
  * Several operator families (dedup postings, minhash signatures,
  * simhashes, normalized embeddings, quantized vectors) register
  * intermediate frames with the CacheManager at construction time so
  * that the 5+ consumers of the same subtree inside one query — and
  * sibling queries over the same input — converge on ONE materialization
  * (CacheManager keys on the canonical plan).
  *
  * Two hazards in a long-lived session, and their controls:
  *
  *   - GROWTH: entries accumulate across many distinct inputs. Disable
  *     registration per-session with `graft.cache.enabled=false`, or drop
  *     everything between pipeline runs with [[release]].
  *   - STALENESS: a cached frame snapshots its input files; Spark does
  *     NOT auto-invalidate when a file is rewritten in place at the same
  *     path. After an in-place rewrite, call [[release]] (and
  *     `GraphOps.clearClusterMemo()` if clustering ran).
  */
object Caching {
  /** Session conf: "false" turns operator-level cache registration off. */
  val EnabledKey = "graft.cache.enabled"

  /** `df.cache()` unless disabled by [[EnabledKey]] — MEMORY_AND_DISK, so
    * at scale hot frames spill instead of OOMing. */
  def maybeCache(df: DataFrame): DataFrame =
    if (enabled(df)) df.cache() else df

  /** Register a small cluster-state view (region metrics, region info,
    * topology, servers) as ONE cached partition when the optimizer's size
    * estimate for it is within the session's
    * `spark.sql.autoBroadcastJoinThreshold` — the session's own rule for
    * "small enough to ship whole to one task", which also caps the serial
    * work a one-partition view can cause. A single partition satisfies
    * every clustered distribution, so the windows, aggregates and joins
    * of the admin tools over it run inside the scan's stage with no
    * shuffle. Otherwise (threshold -1, estimate above it, or caching
    * disabled) the view gets `otherwise`: [[maybeCache]] by default.
    *
    * The estimate is read off the ANALYZED plan: a cache substitution
    * never appears there, so the same view is sized the same way before
    * and after its cache entry materializes, and every caller of one view
    * builds the same plan and reaches the same CacheManager entry. */
  def cacheSmallView(df: DataFrame, otherwise: DataFrame => DataFrame = maybeCache): DataFrame = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    lazy val size = df.queryExecution.analyzed.stats.sizeInBytes
    if (enabled(df) && threshold >= 0 && size <= threshold) df.repartition(1).cache()
    else otherwise(df)
  }

  private def enabled(df: DataFrame): Boolean =
    df.sparkSession.conf.get(EnabledKey, "true").toBoolean

  /** Drop every cached plan in the session — the bulk lifecycle hook for
    * pipeline boundaries and in-place input rewrites. */
  def release(spark: SparkSession): Unit = spark.catalog.clearCache()

  /** Materialize `df` exactly ONCE whatever the caching posture — for
    * frames whose multiple readers REQUIRE one instantiation for
    * correctness (a `repartitionByRange` re-samples its boundaries per
    * materialization, so a rank assembled from three uncached reads
    * would mix three different partitionings). With caching enabled this
    * is a plain [[maybeCache]] registration (CacheManager reuse across
    * sibling queries, dropped by [[release]]); with it disabled
    * (the ScaleBench posture) it is an EAGER `localCheckpoint` — each
    * call pays its own materialization (so a min-of-passes bench times
    * compute, not a cache re-read) and the blocks release when the frame
    * is garbage-collected instead of pinning a CacheManager entry per
    * distinct input for the session's lifetime. The localCheckpoint
    * branch trades RESILIENCE for determinism: checkpoint blocks are not
    * recomputable (the lineage is truncated), so an executor loss after
    * materialization FAILS the job — resubmit it and the frame
    * materializes afresh. What can never happen is a silent partial
    * re-sample of boundaries mid-plan. */
  def pinForConsistency(df: DataFrame): DataFrame =
    if (enabled(df)) df.cache()
    else df.localCheckpoint(true)
}
