package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ParSpec extends SparkSpec {

  test("materializeConcurrently returns the frames' rows in input order") {
    val frames = (1 to 4).map(i => spark.range(0, 10L * i).toDF("x"))
    val out = Par.materializeConcurrently(frames, maxInFlight = 2)
    assert(out.map(_.count()) == Seq(10L, 20L, 30L, 40L))
  }

  test("materializeConcurrently: one failing frame cancels the frames in flight " +
      "and rethrows its own cause") {
    // one partition: the slow frame holds one core, the failing frame
    // gets another
    val sleepy = udf { (x: Long) => Thread.sleep(60000L); x }
    val slow = spark.range(0, 1, 1, 1).select(sleepy(col("id")).as("x"))
    val boom = spark.range(0, 1, 1, 1).select(raise_error(lit("par-boom")).as("x"))
    val t0 = System.nanoTime()
    val err = intercept[Throwable](Par.materializeConcurrently(Seq(slow, boom)))
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(!err.isInstanceOf[java.util.concurrent.ExecutionException] &&
      !err.isInstanceOf[java.util.concurrent.CompletionException],
      s"the cause must be rethrown, not its wrapper: $err")
    assert(err.getMessage.contains("par-boom"), s"wrong failure surfaced: $err")
    assert(seconds < 30, s"the slow frame must be cancelled, not awaited: ${seconds}s")
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10000000000L
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(tracker.getActiveJobIds().isEmpty, "no job of the failed call may keep running")
  }
}
