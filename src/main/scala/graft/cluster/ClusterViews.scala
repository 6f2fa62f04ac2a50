package graft.cluster

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic cluster-state datasets (SURVEY.md §1 D1/D2/D3) derived
  * from the TPC-H-ish test tables.
  *
  * The reference computes over live HBase cluster metadata
  * (`ClusterMetrics`/`hbase:meta` — reference `api/analyze/TableAnalyzer.java:174-203`,
  * `api/meta/MetaTableInfoService.java:20-72`). We have no cluster, so
  * each logical dataset is a pure, deterministic function of the parquet
  * fixtures — which makes every downstream operator DuckDB-oracle-able.
  * Each view has a matching SQL fragment in [[ClusterSql]] used verbatim
  * inside oracle queries.
  *
  * Arithmetic rules for engine-exact parity:
  *   - sums go through DECIMAL (exact, order-independent); never sum raw
  *     doubles across rows (non-associative FP + nondeterministic shuffle
  *     order would break both the oracle hash AND repeatability at scale)
  *   - min/max/count on any type are exact
  *   - derived doubles are built from the same literal expression tree on
  *     both engines (IEEE ops are deterministic given identical structure)
  *
  * Scale note: D1 is one hash aggregate over its base scan (partial,
  * map-side aggregation), D2 and D3 are shuffle-free projections, and
  * `servers` is a 24-row local relation; nothing here collects to the
  * driver, so the same code runs on 100 TB.
  *
  * Each view registers with the cache manager (Caching.cacheSmallView):
  * these are the same "cluster state" the reporter framework snapshots
  * once and every analysis query re-reads — a region-metrics aggregate is
  * O(#regions), orders of magnitude smaller than the scan it derives
  * from, so materializing it once beats re-aggregating the base table in
  * each of the ~20 consumer queries. While a view's size estimate is at
  * or under `spark.sql.autoBroadcastJoinThreshold` it is held as ONE
  * cached partition, so the per-server windows, aggregates and joins of
  * its consumers run in the scan's stage without a shuffle; above it the
  * view is cached distributed. Lifecycle and opt-out as everywhere:
  * `graft.cache.enabled=false` / Caching.release.
  */
object ClusterViews {

  /** D1 region_metrics — one row per region with load metrics.
    * Region = one `l_partkey` group; 16 logical tables, 24 servers.
    * Mirrors the flatten of `ClusterMetrics → ServerMetrics → RegionMetrics`
    * (reference `api/compactor/CompactorServer.java:89-106`).
    */
  def regionMetrics(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("region_id"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty_sum"),
        count(lit(1)).as("cnt"),
        max(col("l_quantity")).as("qty_max"),
        min(col("l_quantity")).as("qty_min"))
      .select(
        col("region_id"),
        // tables own contiguous 128-key blocks so a table's regions tile a
        // contiguous key space (adjacency semantics for merge ops)
        concat(lit("t"), floor(col("region_id") / 128.0).cast("long").cast("string")).as("table_name"),
        concat(lit("s"), ((col("region_id") * col("region_id") + col("region_id") * 5) % 24).cast("string")).as("server"),
        (col("qty_sum") * 10).cast("long").as("size_mb"),
        col("cnt").cast("int").as("file_count"),
        (col("qty_max") * 10).cast("long").as("max_file_mb"),
        col("qty_min").cast("long").as("mem_store_mb"),
        ((col("region_id") * 37) % 101).cast("double").divide(lit(100.0)).as("locality"))
      .transform(graft.Caching.cacheSmallView(_))

  /** D2 region_info — one row per region from "meta": key ranges, namespace,
    * liveness (reference `api/meta/MetaTableInfoService.java:20-72`).
    * Region universe = `part` (superset of lineitem's partkeys, giving the
    * O-22 "region with no metrics" miss path for free).
    */
  def regionInfo(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(
        col("p_partkey").as("region_id"),
        concat(lit("t"), floor(col("p_partkey") / 128.0).cast("long").cast("string")).as("table_name"),
        concat(lit("ns"), (col("p_partkey") % 4).cast("string")).as("namespace"),
        (col("p_partkey") * 1000).as("start_key"),
        ((col("p_partkey") + 1) * 1000).as("end_key"),
        concat(lit("s"), ((col("p_partkey") * col("p_partkey") + col("p_partkey") * 5) % 24).cast("string")).as("server"),
        (col("p_partkey") % 97 === 0).as("offline"))
      .transform(graft.Caching.cacheSmallView(_))

  /** D3 cluster_topology — timestamped region→server snapshots
    * (reference `api/meta/TechnicalMeta.java:130-158`: qualifiers
    * `server_<ts>` per region row). Derived from `orders`: each order is a
    * placement observation at `o_orderdate`. At scale this table is
    * partitioned by snapshot date; as-of reads prune partitions.
    */
  def topology(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        (col("o_orderkey") % 2048).as("region_id"),
        // parquet yields TIMESTAMP_NTZ; cast to session-UTC TimestampType
        // so epoch extraction matches DuckDB's naive-as-UTC semantics
        col("o_orderdate").cast("timestamp").as("snapshot_ts"),
        concat(lit("s"), ((col("o_orderkey") * 11 + col("o_custkey")) % 24).cast("string")).as("server"),
        col("o_orderkey").as("obs_id"))
      .transform(graft.Caching.cacheSmallView(_))

  /** Typed views (model case classes mirror the column names). */
  def regionMetricsDs(spark: SparkSession, sfDir: String): Dataset[graft.model.RegionMetric] = {
    import spark.implicits._
    regionMetrics(spark, sfDir).as[graft.model.RegionMetric]
  }

  def regionInfoDs(spark: SparkSession, sfDir: String): Dataset[graft.model.RegionInfo] = {
    import spark.implicits._
    regionInfo(spark, sfDir).as[graft.model.RegionInfo]
  }

  def topologyDs(spark: SparkSession, sfDir: String): Dataset[graft.model.TopologyObs] = {
    import spark.implicits._
    topology(spark, sfDir).as[graft.model.TopologyObs]
  }

  /** The live-server dimension (24 servers), for zero-fill joins
    * (reference zero-fills empty servers at `api/rstask/RSTaskControllerHelper.java:155-176`). */
  def servers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.Caching.cacheSmallView((0 until 24).map(i => s"s$i").toDF("server"), identity)
  }
}

/** SQL mirrors of [[ClusterViews]], embedded as WITH-fragments in every
  * oracle query so DuckDB computes over the identical derived datasets. */
object ClusterSql {
  val regionMetrics: String =
    """region_metrics AS (
      |  SELECT l_partkey AS region_id,
      |         't' || CAST(CAST(FLOOR(l_partkey / 128.0) AS BIGINT) AS VARCHAR) AS table_name,
      |         's' || CAST((l_partkey * l_partkey + l_partkey * 5) % 24 AS VARCHAR) AS server,
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 10 AS BIGINT) AS size_mb,
      |         CAST(COUNT(*) AS INT) AS file_count,
      |         CAST(MAX(l_quantity) * 10 AS BIGINT) AS max_file_mb,
      |         CAST(MIN(l_quantity) AS BIGINT) AS mem_store_mb,
      |         CAST((l_partkey * 37) % 101 AS DOUBLE) / 100.0 AS locality
      |  FROM lineitem
      |  GROUP BY l_partkey
      |)""".stripMargin

  val regionInfo: String =
    """region_info AS (
      |  SELECT p_partkey AS region_id,
      |         't' || CAST(CAST(FLOOR(p_partkey / 128.0) AS BIGINT) AS VARCHAR) AS table_name,
      |         'ns' || CAST(p_partkey % 4 AS VARCHAR) AS namespace,
      |         p_partkey * 1000 AS start_key,
      |         (p_partkey + 1) * 1000 AS end_key,
      |         's' || CAST((p_partkey * p_partkey + p_partkey * 5) % 24 AS VARCHAR) AS server,
      |         (p_partkey % 97 = 0) AS offline
      |  FROM part
      |)""".stripMargin

  val topology: String =
    """topology AS (
      |  SELECT o_orderkey % 2048 AS region_id,
      |         o_orderdate AS snapshot_ts,
      |         's' || CAST((o_orderkey * 11 + o_custkey) % 24 AS VARCHAR) AS server,
      |         o_orderkey AS obs_id
      |  FROM orders
      |)""".stripMargin

  /** Compaction weight in SQL. FP literals are cast to DOUBLE explicitly:
    * DuckDB parses `1024.0` as DECIMAL, and an all-integer/decimal chain
    * like `(size_mb - max_file_mb) / 1024.0` would run in decimal
    * arithmetic — diverging from Spark's IEEE-double evaluation by 1 ulp,
    * enough to flip a floor() at scaled-output boundaries. */
  val weightExpr: String =
    """CASE WHEN size_mb < 10 THEN 0.0
      |     ELSE (1.0 - locality) * 115.0
      |          + ((size_mb - max_file_mb) / CAST(1024.0 AS DOUBLE))
      |            * (file_count * CAST(1.33 AS DOUBLE))
      |END""".stripMargin

  val servers: String =
    """servers AS (
      |  SELECT 's' || CAST(i AS VARCHAR) AS server FROM range(0, 24) t(i)
      |)""".stripMargin
}
