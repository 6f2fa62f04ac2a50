package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.cluster.ClusterViews
import graft.reporters.ClusterState
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graftbridge.ListenerBusDrain

/** One admin sweep (the benchmark's `perfbench.AdminSweep.Tools` over one
  * snapshot, then `Caching.release`) in the three caching postures. The
  * small cluster-state views are one cached partition by default, and
  * distributed as before with the broadcast threshold at -1 or caching
  * off; the tools must not throw and must answer the same rows in all
  * three, and by default the single-view window and aggregate tools must
  * run without a hash shuffle; the reporters read `orders` in one scan,
  * with the views cached or not. A second sweep over the same snapshot
  * must find its generated classes in Spark's codegen cache
  * (`GraftSession.CodegenCacheEntries`) instead of recompiling them. */
class AdminSweepSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val tools = perfbench.AdminSweep.Tools

  /** Tools whose only input is one cluster-state view. */
  private val shuffleFree = Seq("compaction_plan", "weight_stats", "topology_asof")

  /** Jobs of one default-posture sweep at sf0.001 on `local[4]`, measured
    * with the views held as one cached partition. */
  private val measuredJobs = 62

  /** Generated classes a repeated default-posture sweep may compile
    * again. Measured at sf0.001 on `local[4]`: 4 with the cache sized by
    * `GraftSession`, 273 at Spark's default bound of 100. */
  private val maxRecompiles = 25

  private case class Sweep(rows: Map[String, Seq[String]], plans: Map[String, DataFrame], jobs: Int,
      compiles: Long)

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def sweep(): Sweep = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Caching.release(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val compiledBefore = compiled()
      val state = ClusterState.fromSf(spark, sf)
      val topo = ClusterViews.topology(spark, sf)
      val out = tools.map { t =>
        (t.name, scala.util.Try {
          val df = t.build(spark, sf, state, topo)
          (df.collect().map(_.mkString("\u0001")).toSeq.sorted, df)
        })
      }
      val thrown = out.collect { case (name, scala.util.Failure(e)) => s"$name: $e" }
      assert(thrown.isEmpty, s"tools threw: ${thrown.mkString("; ")}")
      val compiles = compiled() - compiledBefore
      // listener delivery is asynchronous: count once the bus is drained
      ListenerBusDrain(spark)
      Sweep(out.map(o => o._1 -> o._2.get._1).toMap, out.map(o => o._1 -> o._2.get._2).toMap,
        jobs.get(), compiles)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Caching.release(spark)
    }
  }

  private def hashShuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }

  /** Parquet scans of the fixture table `table` in `df`'s executed plan
    * (a reused exchange or query stage is not counted again). */
  private def scans(df: DataFrame, table: String): Int =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.getName == s"$table.parquet") => s
    }.size

  test("admin sweep: same rows with the views as one partition, distributed or uncached; " +
      "single-view tools run without a hash shuffle") {
    val default = sweep()
    val distributed = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(sweep())
    val uncached = withSQLConf(Caching.EnabledKey -> "false")(sweep())
    assert(default.rows.keySet == tools.map(_.name).toSet)
    for (t <- tools.map(_.name)) {
      assert(default.rows(t).nonEmpty, s"$t answered no rows")
      assert(distributed.rows(t) == default.rows(t), s"$t: distributed views answer other rows")
      assert(uncached.rows(t) == default.rows(t), s"$t: uncached views answer other rows")
    }
    for (t <- shuffleFree) {
      val found = hashShuffles(default.plans(t))
      assert(found.isEmpty, s"$t shuffles over a one-partition view:\n${found.mkString("\n")}")
      assert(hashShuffles(distributed.plans(t)).nonEmpty,
        s"$t: distributed views must keep their hash shuffle")
    }
    for ((posture, run) <- Seq("default" -> default, "uncached" -> uncached)) {
      val n = scans(run.plans("reporters_run_all"), "orders")
      assert(n == 1, s"$posture: reporters_run_all scans orders $n times")
    }
    info(s"jobs per sweep: default ${default.jobs}, threshold -1 ${distributed.jobs}, " +
      s"uncached ${uncached.jobs}")
    assert(default.jobs <= measuredJobs * 11 / 10,
      s"a default sweep ran ${default.jobs} jobs, measured $measuredJobs")
  }

  test("a repeated sweep over the same snapshot reuses its generated classes") {
    val first = sweep()
    val second = sweep()
    assert(second.rows == first.rows, "a repeated sweep answers other rows")
    info(s"generated classes compiled: first sweep ${first.compiles}, repeat ${second.compiles}")
    assert(second.compiles <= maxRecompiles,
      s"a repeated sweep compiled ${second.compiles} generated classes, at most $maxRecompiles " +
        "expected: Spark's codegen cache no longer holds one sweep's working set")
  }
}
