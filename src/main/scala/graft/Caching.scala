package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.CacheProbe
import org.apache.spark.sql.types.StructType

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
    * at scale hot frames spill instead of OOMing. A plan that already has
    * an entry is returned as is (its reads hit that entry anyway). */
  def maybeCache(df: DataFrame): DataFrame =
    if (enabled(df)) cacheOnce(df) else df

  private def cacheOnce(df: DataFrame): DataFrame =
    if (CacheProbe.isCached(df)) df else df.cache()

  /** `body` over `df` registered with [[maybeCache]], for a frame whose
    * readers all run inside `body` (a bounded batch feeding an append's
    * table writes): the entry `body` registered is dropped when it
    * returns or throws, and an entry that existed before the call is left
    * alone. */
  def withCached[T](df: DataFrame)(body: DataFrame => T): T = {
    val owned = enabled(df) && !CacheProbe.isCached(df)
    val cached = maybeCache(df)
    try body(cached) finally if (owned) cached.unpersist()
  }

  /** `df` collected ONCE and held on the driver as a local frame (a
    * `LocalRelation`): later plans read the rows without recomputing
    * `df`, and the frame holds no CacheManager entry and no executor
    * blocks, so it needs no release and an executor loss can never fail
    * a read of it (tasks over it re-run from the driver's rows). For
    * bounded frames only: the driver holds every row. */
  def localFrame(df: DataFrame): DataFrame =
    localFrame(df.sparkSession, df.collect().toSeq, df.schema)

  /** Driver rows as a local frame, the [[localFrame]] of rows already on
    * the driver. */
  def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

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
    if (enabled(df) && threshold >= 0 && size <= threshold) cacheOnce(df.repartition(1))
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
    if (enabled(df)) cacheOnce(df)
    else df.localCheckpoint(true)
}
