package graft.operators

import graft.QueryPack
import graft.cluster.{ClusterSql, ClusterViews}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** REPORT suite analytics (reference `api/report/...`): classification
  * ladders → typed findings (D5) → severity roll-ups, plus the
  * snapshot/heap/RIT reporters and the partial-report truncation.
  *
  * Everything is filter + groupBy + CASE ladders: fully codegen'd, partial
  * aggregation, no row-level UDFs — at 100 TB these are one-pass scans.
  */
object ReportOps {

  /** O-52 ladder + O-35 roll-up
    * (`api/report/reports/BiggestRegionsReporter.java:46-56` ladder:
    * weight >100 CRITICAL, >50 NORMAL, >30 LOW; roll-up `:142-158`:
    * score = critical*10 + normal vs 500/200/20 thresholds). */
  def severityRollup(metrics: DataFrame): DataFrame = {
    val weighted = metrics.withColumn(
      "weight",
      CompactionOps.weight(col("size_mb"), col("max_file_mb"), col("file_count"), col("locality")))
    weighted
      .withColumn(
        "sev",
        when(col("weight") > 100.0, "CRITICAL")
          .when(col("weight") > 50.0, "NORMAL")
          .when(col("weight") > 30.0, "LOW")
          .otherwise("NONE"))
      .groupBy("table_name")
      .agg(
        sum(when(col("sev") === "CRITICAL", 1L).otherwise(0L)).as("n_critical"),
        sum(when(col("sev") === "NORMAL", 1L).otherwise(0L)).as("n_normal"),
        sum(when(col("sev") === "LOW", 1L).otherwise(0L)).as("n_low"))
      .withColumn("score", col("n_critical") * 10 + col("n_normal"))
      .withColumn(
        "report_severity",
        when(col("score") > 500, "CRITICAL")
          .when(col("score") > 200, "NORMAL")
          .when(col("score") > 20, "LOW")
          .otherwise("NONE"))
  }

  /** O-36: snapshot stats (`api/report/reports/SnapshotsReport.java:26-55`):
    * per-table snapshot counts with havingCount >= 5, and age >= 10 days
    * relative to the newest snapshot (deterministic "now"). Snapshots are
    * derived one-per-order: table `t<o_orderkey%16>`, created o_orderdate.
    * The input is scanned once, into snapshot counts per (table, day);
    * "now" is the newest day of that aggregate. The global window that
    * takes it runs in one partition of at most 16 rows per distinct order
    * date, a size set by the date range, not by the row count; that
    * partition already satisfies the per-table aggregate above it. */
  def snapshotStats(orders: DataFrame): DataFrame = {
    val days = orders
      .groupBy(
        concat(lit("t"), (col("o_orderkey") % 16).cast("string")).as("table_name"),
        col("o_orderdate").as("created"))
      .agg(count(lit(1)).as("n"))
    days
      .withColumn("now_ts", max(col("created")).over(Window.partitionBy()))
      .groupBy("table_name")
      .agg(
        sum(col("n")).as("n_snapshots"),
        sum(when(datediff(col("now_ts"), col("created")) >= 10, col("n")).otherwise(0L)).as("n_old"))
      .filter(col("n_snapshots") >= 5)
  }

  /** O-20: heap-pressure regions
    * (`api/report/reports/RegionHeapSizeReporter.java:25-28`:
    * used/max > 0.8). Heap usage derived deterministically from size. */
  def heapPressure(metrics: DataFrame): DataFrame =
    metrics
      .withColumn("heap_ratio", (col("size_mb") % 1024) / lit(1024.0))
      .filter(col("heap_ratio") > 0.8)
      .select(
        col("region_id"),
        col("server"),
        floor(col("heap_ratio") * 10000 + 0.5).cast("long").as("heap_ratio_e4"))

  /** O-21: stale regions-in-transition
    * (`api/report/reports/RegionInTransitionReporter.java:26-37`: age > 1
    * minute). Events play the RIT log; "now" = newest event. */
  def staleTransitions(events: DataFrame): DataFrame = {
    val now = events.agg(max(unix_micros(col("ts"))).as("now_us"))
    events
      .crossJoin(broadcast(now))
      .withColumn("age_us", col("now_us") - unix_micros(col("ts")))
      .filter(col("age_us") > 60L * 1000000L && col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("age_us"))
  }

  /** PartialReport truncation (`api/report/PartialReport.java:16,22-29`):
    * first 15 events per report group, by deterministic priority. */
  def partialReport(metrics: DataFrame): DataFrame = {
    val weighted = metrics
      .withColumn(
        "weight_e4",
        floor(
          CompactionOps.weight(col("size_mb"), col("max_file_mb"), col("file_count"), col("locality")) * 10000
            + 0.5).cast("long"))
      .filter(col("weight_e4") > 300000L) // LOW+ findings only
    val byTable = Window.partitionBy("table_name").orderBy(col("weight_e4").desc, col("region_id"))
    weighted
      .withColumn("rn", row_number().over(byTable))
      .filter(col("rn") <= 15)
      .select(col("table_name"), col("region_id"), col("weight_e4"), col("rn"))
  }
}

object ReportPack extends QueryPack {
  private def m(s: SparkSession, d: String): DataFrame = ClusterViews.regionMetrics(s, d)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sev_rollup" -> ((s, d) => ReportOps.severityRollup(m(s, d))),
    "snap_stats" -> ((s, d) => ReportOps.snapshotStats(Tables.orders(s, d))),
    "heap_pressure" -> ((s, d) => ReportOps.heapPressure(m(s, d))),
    "stale_rit" -> ((s, d) => ReportOps.staleTransitions(Tables.events(s, d))),
    "partial_rep" -> ((s, d) => ReportOps.partialReport(m(s, d)))
  )

  override def oracles: Map[String, String] = Map(
    "sev_rollup" ->
      s"""WITH ${ClusterSql.regionMetrics},
         |sev AS (
         |  SELECT table_name,
         |         CASE WHEN (${ClusterSql.weightExpr}) > 100.0 THEN 'CRITICAL'
         |              WHEN (${ClusterSql.weightExpr}) > 50.0 THEN 'NORMAL'
         |              WHEN (${ClusterSql.weightExpr}) > 30.0 THEN 'LOW'
         |              ELSE 'NONE' END AS sev
         |  FROM region_metrics
         |),
         |rolled AS (
         |  SELECT table_name,
         |         CAST(SUM(CASE WHEN sev = 'CRITICAL' THEN 1 ELSE 0 END) AS BIGINT) AS n_critical,
         |         CAST(SUM(CASE WHEN sev = 'NORMAL' THEN 1 ELSE 0 END) AS BIGINT) AS n_normal,
         |         CAST(SUM(CASE WHEN sev = 'LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
         |  FROM sev GROUP BY table_name
         |)
         |SELECT table_name, n_critical, n_normal, n_low,
         |       n_critical * 10 + n_normal AS score,
         |       CASE WHEN n_critical * 10 + n_normal > 500 THEN 'CRITICAL'
         |            WHEN n_critical * 10 + n_normal > 200 THEN 'NORMAL'
         |            WHEN n_critical * 10 + n_normal > 20 THEN 'LOW'
         |            ELSE 'NONE' END AS report_severity
         |FROM rolled""".stripMargin,
    "snap_stats" ->
      """WITH snaps AS (
        |  SELECT 't' || CAST(o_orderkey % 16 AS VARCHAR) AS table_name,
        |         o_orderdate AS created,
        |         MAX(o_orderdate) OVER () AS now_ts
        |  FROM orders
        |)
        |SELECT table_name, COUNT(*) AS n_snapshots,
        |       CAST(SUM(CASE WHEN DATE_DIFF('day', CAST(created AS DATE), CAST(now_ts AS DATE)) >= 10
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_old
        |FROM snaps GROUP BY table_name HAVING COUNT(*) >= 5""".stripMargin,
    "heap_pressure" ->
      s"""WITH ${ClusterSql.regionMetrics}
         |SELECT region_id, server,
         |       CAST(FLOOR(((size_mb % 1024) / CAST(1024.0 AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS heap_ratio_e4
         |FROM region_metrics
         |WHERE (size_mb % 1024) / CAST(1024.0 AS DOUBLE) > 0.8""".stripMargin,
    "stale_rit" ->
      """WITH aged AS (
        |  SELECT event_id, user_id, event_type,
        |         MAX(epoch_us(ts)) OVER () - epoch_us(ts) AS age_us
        |  FROM events
        |)
        |SELECT event_id, user_id, age_us
        |FROM aged WHERE age_us > 60 * 1000000 AND event_type = 'error'""".stripMargin,
    "partial_rep" ->
      s"""WITH ${ClusterSql.regionMetrics},
         |weighted AS (
         |  SELECT table_name, region_id,
         |         CAST(FLOOR((${ClusterSql.weightExpr}) * 10000 + 0.5) AS BIGINT) AS weight_e4
         |  FROM region_metrics
         |),
         |ranked AS (
         |  SELECT table_name, region_id, weight_e4,
         |         ROW_NUMBER() OVER (PARTITION BY table_name ORDER BY weight_e4 DESC, region_id) AS rn
         |  FROM weighted WHERE weight_e4 > 300000
         |)
         |SELECT table_name, region_id, weight_e4, rn FROM ranked WHERE rn <= 15""".stripMargin
  )
}
