package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory.
  *
  * Sized for the driver's local[32] harness but configured the way a
  * 1000-executor cluster job would be: AQE on (runtime re-plan, skew-join
  * splitting, partition coalescing), shuffle partitions matched to
  * parallelism rather than the 200 default, UTC so results are
  * oracle-comparable.
  *
  * It also sizes Spark's generated-class cache to graft's working set
  * (see [[CodegenCacheEntries]]). `spark.sql.codegen.cache.maxEntries` is
  * a STATIC conf read once per JVM, when Spark's `CodeGenerator` object
  * initializes on the first query plan compiled: it takes effect only if
  * the first session of the JVM is built with it. A later session's
  * value, or a `spark.conf.set` at runtime, cannot resize the cache. A
  * caller's own `.config` on the returned builder overrides the value.
  */
object GraftSession {

  /** Streaming state-store provider class for [[builder]]'s
    * `rocksdbStateStore` flag. The default HDFS-backed store keeps every
    * key of every stateful operator on the EXECUTOR HEAP — fine for the
    * fixture streams, but the watermarked dedup gates
    * ([[graft.streaming.StreamingOps]] nearDup/ingestDedup/contamination)
    * hold one entry per fingerprint bucket inside the retention horizon,
    * which at 100-TB ingest rates is tens of billions of keys: far past
    * heap. RocksDB spills state to local SSD with an off-heap block
    * cache, and changelog checkpointing uploads per-batch deltas instead
    * of full snapshots — the configuration a production deployment of
    * these gates runs. Ships with Spark 4 (rocksdbjni bundled). */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Bound of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, Spark default 100). One admin
    * sweep alone compiles about 270 distinct classes, so at 100 the LRU
    * evicts each class before the next sweep asks for it again and every
    * sweep recompiles all of them in Janino. The largest in-repo working
    * set, the 258 contract queries at sf0.01 in one session, compiles
    * about 3,200 (local mode keys the driver's and the executor's copy of
    * a class apart); the bound holds that with 2x headroom, so a second
    * pass recompiles only the ~260 classes whose code differs per pass. A
    * held class costs metaspace: about 25 MB for that whole working set. */
  val CodegenCacheEntries = 8000

  def builder(
      master: String = "local[32]",
      shufflePartitions: Int = 32,
      extensions: Boolean = true,
      rocksdbStateStore: Boolean = false): SparkSession.Builder = {
    val base0 = SparkSession.builder()
    val base = if (!rocksdbStateStore) base0 else base0
      .config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
      // per-batch delta upload instead of full RocksDB snapshots — the
      // checkpoint-size story that makes billions of state keys practical
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    (if (extensions) base.withExtensions(new graft.plans.GraftExtensions) else base)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // static, read once per JVM: see CodegenCacheEntries
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // test fixtures carry nanosecond parquet timestamps, which Spark 4
      // otherwise refuses to read; Tables.events converts back to micros
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // shuffle/spill on tmpfs: the host disk is burst-throttled and MB-scale
      // shuffle writes were intermittently stalling scan-heavy queries 10-50x
      .config("spark.local.dir", "/dev/shm/spark-local")
      .config("spark.ui.enabled", "false")
      // survive host CPU-stall bursts (see Bench.scala): default heartbeat
      // limits kill the JVM after ~10 min of stall
      .config("spark.executor.heartbeatInterval", "30s")
      .config("spark.executor.heartbeat.maxFailures", "200")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.broadcastTimeout", "1200")
      // local-mode JVMs accumulate shuffle files until a driver GC fires
      // the ContextCleaner (default periodic GC: 30 min) — with /dev/shm
      // shuffle dirs that litter is RAM; clean on a tight cadence
      .config("spark.cleaner.periodicGC.interval", "2min")
  }

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
