package graft.reporters

import graft.cluster.ClusterViews
import graft.model.{EventType, Finding, FixDestination, Severity}
import graft.operators.{CompactionOps, DistributionOps, ReportOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Cluster-state facade: the cached inputs every reporter shares —
  * the Spark analogue of `MetaTableHolder` + `ClusterMetrics` memoization
  * (reference `api/meta/MetaTableHolder.java:14-114`). `metrics`,
  * `regionInfo` and `servers` come from [[ClusterViews]], which registers
  * them with the CacheManager already (one cached partition while small);
  * `snapshots` and `transitions` are plain reads, each read once per
  * sweep, so caching them would only add a build. */
case class ClusterState(
    metrics: DataFrame,
    regionInfo: DataFrame,
    servers: DataFrame,
    snapshots: DataFrame,
    transitions: DataFrame,
    serverFeed: DataFrame) {
  /** Drop the cache entries of `metrics`, `regionInfo` and `servers`
    * (the views [[ClusterViews]] registered); [[graft.Caching.release]]
    * drops every entry of the session instead. */
  def uncache(): Unit = { metrics.unpersist(); regionInfo.unpersist(); servers.unpersist() }
}

object ClusterState {
  def fromSf(spark: SparkSession, sfDir: String): ClusterState = {
    val metrics = ClusterViews.regionMetrics(spark, sfDir)
    ClusterState(
      metrics,
      ClusterViews.regionInfo(spark, sfDir),
      ClusterViews.servers(spark),
      graft.sources.Tables.orders(spark, sfDir),
      graft.sources.Tables.events(spark, sfDir),
      // deterministic stand-in for the live JMX feed (O-12): queue depths
      // derived from per-server load so thresholds are exercised
      metrics.groupBy("server").agg(
        (sum(col("file_count")) % 200).cast("int").as("compaction_queue"),
        (sum(col("mem_store_mb")) % 40).cast("int").as("flush_queue"),
        lit(99.0).as("percent_files_local")))
  }
}

/** Pluggable finding producer (reference `api/report/Reporter.java:7-20`).
  * Each reporter is a pure ClusterState → Dataset[Finding] dataflow. */
trait Reporter {
  def name: String
  def report(state: ClusterState): Dataset[Finding]
}

/** The reporter registry (reference `runner/report/ReportRunner.java:30-47`
  * registers 9). Reporters reuse the operator library; all of them run as
  * independent DataFrame queries over the shared cached ClusterState. */
object Reporters {

  private def toFindings(df: DataFrame, eventType: String, objCol: String,
      problem: String, sevCol: String, dest: String, cmd: String): Dataset[Finding] = {
    import df.sparkSession.implicits._
    df.select(
      lit(eventType).as("eventType"),
      col(objCol).cast("string").as("objectName"),
      lit(problem).as("problem"),
      col(sevCol).cast("string").as("severity"),
      lit(dest).as("fixDestination"),
      // single-quote the argument exactly like ActionPlans.toFindings:
      // these lines are piped verbatim into `hbase shell`, where a bare
      // name is an undefined Ruby identifier, not a string
      concat(lit(cmd + " '"), col(objCol).cast("string"), lit("'")).as("command")).as[Finding]
  }

  /** Biggest-regions reporter (`api/report/reports/BiggestRegionsReporter.java`):
    * compaction-weight ladder per region. */
  val biggestRegions: Reporter = new Reporter {
    val name = "biggest_regions"
    def report(state: ClusterState): Dataset[Finding] = {
      val weighted = state.metrics.withColumn(
        "weight",
        CompactionOps.weight(col("size_mb"), col("max_file_mb"), col("file_count"), col("locality")))
        .withColumn(
          "sev",
          when(col("weight") > 100.0, Severity.Critical)
            .when(col("weight") > 50.0, Severity.Normal)
            .when(col("weight") > 30.0, Severity.Low))
        .filter(col("sev").isNotNull)
      toFindings(weighted, EventType.Region, "region_id",
        "region exceeds compaction weight threshold", "sev",
        FixDestination.HBaseShell, "major_compact")
    }
  }

  /** RS locality reporter (`api/report/reports/RSLocalityReporter.java:71-73`). */
  val rsLocality: Reporter = new Reporter {
    val name = "rs_locality"
    def report(state: ClusterState): Dataset[Finding] = {
      // weighted locality through decimal so the sum is order-independent
      // across shuffle partitions (determinism rule, ClusterViews scaladoc)
      val perServer = state.metrics
        .groupBy("server")
        .agg((sum((col("locality") * col("size_mb")).cast(org.apache.spark.sql.types.DecimalType(28, 10)))
          / sum(col("size_mb"))).as("wloc"))
        .withColumn(
          "sev",
          when(col("wloc") < 0.65, Severity.Critical)
            .when(col("wloc") < 0.85, Severity.Normal)
            .when(col("wloc") < 0.95, Severity.Low))
        .filter(col("sev").isNotNull)
      toFindings(perServer, EventType.RegionServer, "server",
        "server data locality below threshold", "sev",
        FixDestination.Advice, "rebalance_locality")
    }
  }

  /** Runtime distribution reporter
    * (`api/report/reports/RuntimeRSDistributionReporter.java:21-29`). */
  val distribution: Reporter = new Reporter {
    val name = "rs_distribution"
    def report(state: ClusterState): Dataset[Finding] = {
      val loaded = DistributionOps.loadVsAverage(state.metrics, state.servers)
        .filter(col("severity") =!= Severity.None)
      toFindings(loaded, EventType.RegionServer, "server",
        "server region count far from cluster average", "severity",
        FixDestination.Shell, "distribute")
    }
  }

  /** Heap-pressure reporter (`api/report/reports/RegionHeapSizeReporter.java`). */
  val heap: Reporter = new Reporter {
    val name = "region_heap"
    def report(state: ClusterState): Dataset[Finding] = {
      val hp = ReportOps.heapPressure(state.metrics)
        .withColumn("sev", lit(Severity.Normal))
      toFindings(hp, EventType.Region, "region_id",
        "region heap usage above 80%", "sev", FixDestination.Advice, "flush")
    }
  }

  /** Small-regions (mergeable) reporter — MergerService analytics as
    * findings. */
  val smallRegions: Reporter = new Reporter {
    val name = "small_regions"
    def report(state: ClusterState): Dataset[Finding] = {
      val mc = graft.operators.MergerOps.mergeableCount(state.metrics, 7000L)
        .filter(col("mergeable") > 0)
        .withColumn(
          "sev",
          when(col("mergeable") > col("n_regions") / 2, Severity.Normal).otherwise(Severity.Low))
      toFindings(mc, EventType.Table, "table_name",
        "table has mergeable small regions", "sev", FixDestination.HBaseShell, "merge_region")
    }
  }

  /** Snapshots reporter (`api/report/reports/SnapshotsReport.java:26-55,
    * 127-133`): tables hoarding snapshots, severity by old-snapshot count. */
  val snapshots: Reporter = new Reporter {
    val name = "snapshots"
    def report(state: ClusterState): Dataset[Finding] = {
      val stats = ReportOps.snapshotStats(state.snapshots)
        .withColumn(
          "sev",
          when(col("n_old") > 500, Severity.Critical)
            .when(col("n_old") > 0, Severity.Normal))
        .filter(col("sev").isNotNull)
      toFindings(stats, EventType.Snapshot, "table_name",
        "table has stale snapshots", "sev", FixDestination.HBaseShell, "delete_snapshot")
    }
  }

  /** Regions-in-transition reporter
    * (`api/report/reports/RegionInTransitionReporter.java:26-37,76-83`). */
  val regionsInTransition: Reporter = new Reporter {
    val name = "regions_in_transition"
    def report(state: ClusterState): Dataset[Finding] = {
      val stale = ReportOps.staleTransitions(state.transitions)
        .withColumn(
          "sev",
          when(col("age_us") > 3600L * 1000000L, Severity.Critical).otherwise(Severity.Normal))
      toFindings(stale, EventType.Region, "event_id",
        "region stuck in transition", "sev", FixDestination.Advice, "check_rit")
    }
  }

  /** Meta-distribution reporter (`api/report/reports/MetaRSDistributionReporter.java:26-43`):
    * same band ladder as runtime distribution, but over the meta view of
    * placement (region_info) instead of live metrics. */
  val metaDistribution: Reporter = new Reporter {
    val name = "meta_distribution"
    def report(state: ClusterState): Dataset[Finding] = {
      val loaded = DistributionOps.loadVsAverage(state.regionInfo, state.servers)
        .filter(col("severity") =!= Severity.None)
      toFindings(loaded, EventType.RegionServer, "server",
        "meta placement far from cluster average", "severity",
        FixDestination.Shell, "rebalance_meta")
    }
  }

  /** Compactions-queue reporter (`api/report/reports/CompactionsReporter.java:66-68`:
    * queue >150 CRITICAL, >50 NORMAL, >15 LOW) over the metrics feed. */
  val compactionsQueue: Reporter = new Reporter {
    val name = "compactions_queue"
    def report(state: ClusterState): Dataset[Finding] = {
      val q = state.serverFeed
        .withColumn(
          "sev",
          when(col("compaction_queue") > 150, Severity.Critical)
            .when(col("compaction_queue") > 50, Severity.Normal)
            .when(col("compaction_queue") > 15, Severity.Low))
        .filter(col("sev").isNotNull)
      toFindings(q, EventType.RegionServer, "server",
        "compaction queue depth above threshold", "sev",
        FixDestination.Advice, "throttle_compactions")
    }
  }

  /** The full registry — 9 reporters, mirroring
    * `runner/report/ReportRunner.java:42-50`. */
  val all: Seq[Reporter] = Seq(
    biggestRegions, rsLocality, distribution, heap, smallRegions,
    snapshots, regionsInTransition, metaDistribution, compactionsQueue)

  /** Run every registered reporter over one shared (cached) state —
    * the FullReport path (`api/report/ReportBuilder.java:97-100`), except
    * the per-reporter queries are independent Spark jobs. */
  def runAll(state: ClusterState): Dataset[Finding] =
    all.map(_.report(state)).reduce(_ unionByName _)
}
