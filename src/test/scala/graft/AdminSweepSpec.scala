package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.cluster.ClusterViews
import graft.reporters.ClusterState
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** One admin sweep (the benchmark's `perfbench.AdminSweep.Tools` over one
  * snapshot, then `Caching.release`) in the three caching postures. The
  * small cluster-state views are one cached partition by default, and
  * distributed as before with the broadcast threshold at -1 or caching
  * off; the tools must not throw and must answer the same rows in all
  * three, and by default the single-view window and aggregate tools must
  * run without a hash shuffle. */
class AdminSweepSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val tools = perfbench.AdminSweep.Tools

  /** Tools whose only input is one cluster-state view. */
  private val shuffleFree = Seq("compaction_plan", "weight_stats", "topology_asof")

  /** Jobs of one default-posture sweep at sf0.001 on `local[4]`, measured
    * with the views held as one cached partition. */
  private val measuredJobs = 62

  private case class Sweep(rows: Map[String, Seq[String]], plans: Map[String, DataFrame], jobs: Int)

  private def sweep(): Sweep = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // listener delivery is asynchronous: read the count once it settles
    def settledJobs(): Int = {
      var last = -1
      var now = jobs.get()
      while (now != last) { Thread.sleep(500); last = now; now = jobs.get() }
      now
    }
    Caching.release(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
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
      val n = settledJobs()
      Sweep(out.map(o => o._1 -> o._2.get._1).toMap, out.map(o => o._1 -> o._2.get._2).toMap, n)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Caching.release(spark)
    }
  }

  private def hashShuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }

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
    info(s"jobs per sweep: default ${default.jobs}, threshold -1 ${distributed.jobs}, " +
      s"uncached ${uncached.jobs}")
    assert(default.jobs <= measuredJobs * 11 / 10,
      s"a default sweep ran ${default.jobs} jobs, measured $measuredJobs")
  }
}
