package graft.tools

import org.apache.spark.sql.SparkSession

/** Shared session factory for the timing harnesses (Bench, TimeOne,
  * TimeSeq, ScaleBench) and the Verify dump: GraftSession's single
  * config source (AQE, UTC, /dev/shm shuffle, host-stall hardening) PLUS
  * WITHOUT the session extensions: the contract queries use the Column
  * API (native expressions bind directly), and injecting the extension
  * set measurably inflates per-query planning time across a 101-query
  * bench run — the extension path is exercised by
  * CatalystExtensionsSpec/SqlSurfaceSpec instead.
  */
object TimingSession {
  def create(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = graft.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt, extensions = false)
      .getOrCreate()
    // SPARK_GRAFT_CACHE=false → run with operator-level cache
    // registration off: the cache-invariance switch (results must not
    // depend on the shared materializations, only their cost does)
    sys.env.get("SPARK_GRAFT_CACHE")
      .foreach(v => spark.conf.set(graft.Caching.EnabledKey, v))
    // SPARK_GRAFT_AQE=false → measure without adaptive execution (dev
    // A/B knob: sizes the per-query AQE re-planning overhead on the
    // bounded serve/report queries vs its shuffle wins on the heavies)
    sys.env.get("SPARK_GRAFT_AQE")
      .foreach(v => spark.conf.set("spark.sql.adaptive.enabled", v))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
