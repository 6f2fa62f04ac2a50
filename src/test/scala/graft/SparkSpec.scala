package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession
      .builder(master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** `body`'s result and the executed plans (as text) of every action it
    * ran — for operators whose eager, driver-local steps read tables the
    * returned lazy plan no longer shows. Listener delivery is
    * asynchronous, so the bus is drained before the listener is added
    * (an action the caller ran just before must not be counted) and again
    * before the plans are read. */
  def withActionPlans[A](body: => A): (A, Seq[String]) = {
    org.apache.spark.sql.graftbridge.ListenerBusDrain(spark)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.sql.graftbridge.ListenerBusDrain(spark)
      (out, scala.jdk.CollectionConverters.IterableHasAsScala(plans).asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Run `body` with the given SQL confs set, restoring priors after —
    * the shared-session analogue of Spark's own test helper. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
