package graft

import java.sql.Timestamp

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("compaction stream dedups a region within the no-recompact watermark (O-54)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, Long, Int, Double)]
    val df = input.toDF()
      .toDF("region_id", "snapshot_ts", "size_mb", "max_file_mb", "file_count", "locality")
    val q = StreamingOps.compactionStream(df)
      .writeStream.format("memory").queryName("compact_out").outputMode("append").start()
    try {
      // same region twice in one watermark window + one tiny region (filtered)
      input.addData(
        (1L, ts(0), 5000L, 50L, 40, 0.1),
        (1L, ts(1), 5000L, 50L, 40, 0.1),
        (2L, ts(1), 5L, 1L, 1, 0.9))
      q.processAllAvailable()
      val out = s.sql("SELECT region_id FROM compact_out").collect().map(_.getLong(0))
      assert(out.toSeq == Seq(1L))
    } finally q.stop()
  }

  test("pii redaction runs unchanged on a stream (stateless narrow transform)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String, Long, String)]
    val df = input.toDF().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val q = graft.operators.PrivacyOps.piiRedact(df)
      .writeStream.format("memory").queryName("pii_out").outputMode("append").start()
    try {
      input.addData((7L, "Customer#000000007", 3L, "BUILDING"))
      q.processAllAvailable()
      val out = s.sql("SELECT * FROM pii_out").collect()
      assert(out.length == 1)
      val r = out(0)
      assert(r.getAs[Int]("n_phone") == 1 && r.getAs[Int]("n_email") == 1)
      assert(r.getAs[String]("redacted").contains("<tel>") &&
        r.getAs[String]("redacted").contains("<email>"))
    } finally q.stop()
  }

  test("source-cap stream admits at most cap docs per source across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.sourceCapStream(input.toDS(), cap = 3)
      .writeStream.format("memory").queryName("cap_out").outputMode("append").start()
    try {
      input.addData((1L, "srcA"), (2L, "srcA"), (10L, "srcB"))
      q.processAllAvailable()
      // second batch: srcA only has 1 admission slot left
      input.addData((3L, "srcA"), (4L, "srcA"), (5L, "srcA"), (11L, "srcB"))
      q.processAllAvailable()
      val rows = s.sql("SELECT doc_id, source, rk FROM cap_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val srcA = rows.filter(_._2 == "srcA")
      assert(srcA.map(_._1) == Set(1L, 2L, 3L), s"got $srcA")
      assert(srcA.map(_._3) == Set(1, 2, 3))
      assert(rows.filter(_._2 == "srcB").map(_._1) == Set(10L, 11L))
    } finally q.stop()
  }

  test("distributor stream suppresses repeated tables within 6h (O-55)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(String, Timestamp, Long)]
    val df = input.toDF().toDF("table_name", "snapshot_ts", "weight")
    val q = StreamingOps.distributorStream(df)
      .writeStream.format("memory").queryName("dist_out").outputMode("append").start()
    try {
      input.addData(("t1", ts(0), 10L), ("t1", ts(5), 11L), ("t2", ts(5), 9L))
      q.processAllAvailable()
      val out = s.sql("SELECT table_name FROM dist_out").collect().map(_.getString(0)).sorted
      assert(out.toSeq == Seq("t1", "t2"))
    } finally q.stop()
  }

  test("canary probes fold to per-window availability (O-56, O-38)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, String, Boolean)]
    val df = input.toDF().toDF("probe_ts", "op_type", "ok")
    val q = StreamingOps.canaryFold(df)
      .writeStream.format("memory").queryName("canary_out").outputMode("append").start()
    try {
      input.addData((ts(0), "read", true), (ts(1), "read", false), (ts(2), "write", true))
      // advance watermark past the window so append-mode emits it
      input.addData((ts(40), "read", true))
      q.processAllAvailable()
      val out = s.sql("SELECT op_type, available, n_probes FROM canary_out ORDER BY op_type")
        .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
      assert(out.contains(("read", false, 2L)))
      assert(out.contains(("write", true, 1L)))
    } finally q.stop()
  }

  test("paced action sink applies queue-depth backpressure and per-server top-k (O-54)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(String, Long, Double)]
    val candidates = input.toDF().toDF("server", "region_id", "weight")
    // multi-row feed on purpose: s1 has a stale low reading AND a fresh
    // high one below the border; s2's worst reading pauses it (50 > 11);
    // s3 verifies the budget is per-server, not global
    val depths = graft.sources.AuxSources.serverMetricsFeed(s,
      Seq(("s1", 1, 0, 99.0), ("s1", 5, 2, 99.0), ("s2", 50, 2, 99.0), ("s2", 3, 1, 99.0)))
    val emitted = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val batchIds = scala.collection.mutable.ArrayBuffer[Long]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_paced_ckpt").toString
    val q = StreamingOps.pacedActionSink(
      candidates, depths,
      (b, id) => emitted.synchronized {
        emitted ++= b.collect().map(r => (r.getString(0), r.getLong(1)))
        batchIds += id
      },
      checkpoint = ckpt,
      maxPerServer = 2)
    try {
      input.addData(
        ("s1", 1L, 100.0), ("s1", 2L, 90.0), ("s1", 3L, 80.0),
        ("s2", 4L, 999.0),
        ("s3", 5L, 70.0), ("s3", 6L, 60.0), ("s3", 7L, 50.0))
      q.processAllAvailable()
      val got = emitted.synchronized(emitted.toList)
      // per-server top-2; s2 suppressed by its WORST queue reading; the
      // duplicate s1 feed rows do not duplicate candidates
      assert(got.toSet == Set(("s1", 1L), ("s1", 2L), ("s3", 5L), ("s3", 6L)), s"got $got")
      assert(got.size == 4)
      assert(batchIds.synchronized(batchIds.nonEmpty)) // emit sees the batch id
    } finally q.stop()
  }

  test("topology snapshot batches are replay-idempotent (per-batch overwrite)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_topo_idem")
    val batch = Seq((1L, ts(0), "s1", 100L), (2L, ts(1), "s2", 101L))
      .toDF("region_id", "snapshot_ts", "server", "obs_id")
    graft.sources.BulkOps.writeTopologySnapshotBatch(batch, s"$dir/topo", 7L)
    // a foreachBatch replay of the SAME batch id rewrites, never appends
    graft.sources.BulkOps.writeTopologySnapshotBatch(batch, s"$dir/topo", 7L)
    assert(s.read.parquet(s"$dir/topo").count() == 2)
  }

  test("topology snapshot stream appends date-partitioned parquet (O-57)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_topo_stream")
    val input = MemoryStream[(Long, Timestamp, String, Long)]
    val df = input.toDF().toDF("region_id", "snapshot_ts", "server", "obs_id")
    val q = StreamingOps.topologySnapshotStream(df, s"$dir/topo", s"$dir/ckpt")
    try {
      input.addData((1L, ts(0), "s1", 100L), (2L, ts(1), "s2", 101L))
      q.processAllAvailable()
      val written = s.read.parquet(s"$dir/topo")
      assert(written.count() == 2)
      assert(written.columns.contains("snapshot_date"))
    } finally q.stop()
  }

  test("streaming sessionization emits closed sessions (session_window + watermark)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val q = StreamingOps.sessionStream(df)
      .writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    try {
      // user 7: two events 1 min apart (one session); then a far-future
      // event advances the watermark so the session closes
      input.addData((ts(0), 7L), (ts(1), 7L))
      q.processAllAvailable()
      input.addData((ts(59), 8L))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 12:00:00"), 9L))
      q.processAllAvailable()
      val out = s.sql("SELECT user_id, n_events FROM sessions_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(out.contains((7L, 2L)))
    } finally q.stop()
  }

  test("gate-and-ingest stream: the index grows per trigger, duplicates never escape") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_stream").toString
    val corpusText = "a b c d e f g h"
    val novelText = "x1 x2 x3 x4 x5 x6 x7 x8"
    graft.operators.DedupIndexOps.writeIndex(
      Seq((1000L, corpusText), (1001L, "p q r s t u v w")).toDF("doc_id", "text"), dir)
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val verdicts = scala.collection.mutable.Map.empty[Long, (String, Option[Long])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gate_stream_ck").toString
    val q = StreamingOps.dedupIngestGateStream(df, dir, ckpt, (rep, _) =>
      verdicts.synchronized { rep.collect().foreach(r => verdicts(r.getLong(0)) =
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))) })
    try {
      // trigger 1: a corpus copy, a novel doc, the novel doc's twin, and
      // a sub-shingle doc the index can never hold
      input.addData((1L, corpusText), (2L, novelText), (3L, novelText), (9L, "a b"))
      q.processAllAvailable()
      // trigger 2: a copy of trigger 1's INGESTED survivor — the index
      // must have grown, so this is dup_index, not ingested
      input.addData((4L, novelText))
      q.processAllAvailable()
      val got = verdicts.synchronized(verdicts.toMap)
      assert(got(1L) == ("dup_index", Some(1000L)), s"corpus copy: ${got(1L)}")
      assert(got(2L) == ("ingested", None), s"novel doc: ${got(2L)}")
      assert(got(3L) == ("dup_batch", Some(2L)), s"within-batch twin: ${got(3L)}")
      assert(got(4L) == ("dup_index", Some(2L)),
        s"a later batch's copy must hit the GROWN index: ${got(4L)}")
      assert(got(9L) == ("unsignable", None),
        s"a sub-shingle doc is not 'ingested' — the index cannot hold it: ${got(9L)}")
      // and only the survivor landed in the index (base ∪ delta — the
      // streamed appends live in delta segments until a fold)
      val minsDocs = graft.TestTables.fullTable(spark, dir, "mins", Seq("doc_id"))
        .distinct().collect().map(_.getLong(0)).toSet
      assert(minsDocs == Set(1000L, 1001L, 2L),
        s"exactly the gate survivors may be appended: $minsDocs")
    } finally q.stop()
  }

  /** Feed `batches` to a MemoryStream-backed query, one trigger each, and
    * return the Spark jobs each trigger ran (its emit included). Asserts
    * the triggers left no CacheManager entry and no persisted RDD behind:
    * a stored-index stream runs unbounded, so a per-trigger leftover
    * grows without end. */
  private def guardedTriggerJobs[T: org.apache.spark.sql.Encoder](
      name: String, batches: Seq[Seq[T]], cols: Seq[String],
      between: Int => Unit = _ => ())(
      start: (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): Seq[Int] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_${name}_ck").toString
    val q = start(input.toDF().toDF(cols: _*), ckpt)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // listener delivery is asynchronous: read the count once the bus drains
    def settledJobs(): Int = {
      org.apache.spark.sql.graftbridge.ListenerBusDrain(spark)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      val entriesBefore = org.apache.spark.sql.graftbridge.CacheProbe.entries(spark)
      val perTrigger = batches.zipWithIndex.map { case (b, i) =>
        between(i) // maintenance before trigger i, outside its count
        val j0 = settledJobs()
        input.addData(b)
        q.processAllAvailable()
        settledJobs() - j0
      }
      info(s"$name jobs per trigger: $perTrigger")
      assert(org.apache.spark.sql.graftbridge.CacheProbe.entries(spark) == entriesBefore,
        s"a $name trigger must register no CacheManager entry")
      assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(rddsBefore),
        s"a $name trigger must leave no persisted RDD behind")
      perTrigger
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      q.stop()
    }
  }

  /** `rows` cut into five consecutive trigger batches. */
  private def fiveBatches[T](rows: Seq[T]): Seq[Seq[T]] = {
    val batches = rows.grouped((rows.size + 4) / 5).toSeq
    assert(batches.size == 5)
    batches
  }

  test("gate stream: ≤ 20 jobs a trigger, no cache entry or persisted RDD left over " +
      "five triggers, verdicts equal the batch gate") {
    val s = spark
    import s.implicits._
    import graft.operators.DedupIndexOps
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") >= 100)
    val batches = fiveBatches(docs.filter(col("doc_id") < 100).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1))
    val streamDir = java.nio.file.Files.createTempDirectory("graft_gate_guard_s").toString
    val batchDir = java.nio.file.Files.createTempDirectory("graft_gate_guard_b").toString
    DedupIndexOps.writeIndex(corpus, streamDir)
    DedupIndexOps.writeIndex(corpus, batchDir)
    def report(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))).toSet
    val expected = batches.map(b => report(DedupIndexOps.gateAndIngest(spark, batchDir, b.toDF("doc_id", "text"))))

    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, String, Option[Any], Option[Any])]]
    val perTrigger = guardedTriggerJobs("gate", batches, Seq("doc_id", "text"))((df, ckpt) =>
      StreamingOps.dedupIngestGateStream(df, streamDir, ckpt,
        (rep, bid) => got.synchronized { got(bid) = report(rep) }))
    assert(perTrigger.forall(_ <= 20), s"jobs per trigger: $perTrigger")
    assert(got.synchronized(got.toSeq.sortBy(_._1).map(_._2)) == expected,
      "streamed verdicts must equal the batch gate over the same batches")
  }

  test("gate stream with a delete and compactIndex between triggers: ≤ 20 jobs a trigger, " +
      "no cache entry or persisted RDD left over, verdicts equal the batch gate") {
    val s = spark
    import s.implicits._
    import graft.operators.DedupIndexOps
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") >= 100)
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).sorted
    val batches = fiveBatches(docs.filter(col("doc_id") < 100).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1))
    val streamDir = java.nio.file.Files.createTempDirectory("graft_gate_fold_s").toString
    val batchDir = java.nio.file.Files.createTempDirectory("graft_gate_fold_b").toString
    DedupIndexOps.writeIndex(corpus, streamDir)
    DedupIndexOps.writeIndex(corpus, batchDir)
    // before each later trigger: delete three corpus docs and the
    // previous batch's first doc, then fold
    def maintain(dir: String, i: Int): Unit = if (i > 0) {
      val dead = corpusIds.slice(3 * i, 3 * i + 3).toSeq :+ batches(i - 1).head._1
      DedupIndexOps.deleteFromIndex(spark, dir, dead.toDF("doc_id"))
      assert(DedupIndexOps.compactIndex(spark, dir), s"fold before trigger $i must run")
    }
    def report(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))).toSet
    val expected = batches.zipWithIndex.map { case (b, i) =>
      maintain(batchDir, i)
      report(DedupIndexOps.gateAndIngest(spark, batchDir, b.toDF("doc_id", "text")))
    }
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, String, Option[Any], Option[Any])]]
    val perTrigger = guardedTriggerJobs("gate+fold", batches, Seq("doc_id", "text"),
        between = maintain(streamDir, _))((df, ckpt) =>
      StreamingOps.dedupIngestGateStream(df, streamDir, ckpt,
        (rep, bid) => got.synchronized { got(bid) = report(rep) }))
    assert(perTrigger.forall(_ <= 20), s"jobs per trigger: $perTrigger")
    assert(got.synchronized(got.toSeq.sortBy(_._1).map(_._2)) == expected,
      "streamed verdicts must equal the batch gate over the same batches and folds")
  }

  test("dedup serve stream: no cache entry or persisted RDD left over five triggers, " +
      "reports equal the batch serve") {
    val s = spark
    import s.implicits._
    import graft.operators.DedupIndexOps
    val docs = graft.sources.Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_serve_guard").toString
    DedupIndexOps.writeIndex(docs.filter(col("doc_id") >= 100), dir)
    val arriving = docs.filter(col("doc_id") < 100).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    def report(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    guardedTriggerJobs("dedup serve", fiveBatches(arriving), Seq("doc_id", "text"))((df, ckpt) =>
      StreamingOps.dedupServeStream(df, dir, ckpt,
        (rep, _) => got.synchronized { got ++= report(rep) }))
    val batch = report(DedupIndexOps.servedDupes(spark, dir, arriving.toDF("doc_id", "text")))
    assert(batch.nonEmpty, "fixture batch must collide with the corpus somewhere")
    assert(got.synchronized(got.toSet) == batch,
      "streamed dedup reports must equal the batch serve over the union")
  }

  test("ANN serve stream: no cache entry or persisted RDD left over five triggers, " +
      "rankings equal the batch serve") {
    val s = spark
    import s.implicits._
    import graft.operators.AnnIndexOps
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_serve_guard").toString
    AnnIndexOps.writeIndex(emb, dir)
    val qvecs = emb.filter(col("vec_id") < 10).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    def ranking(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
    guardedTriggerJobs("ANN serve", fiveBatches(qvecs), Seq("vec_id", "embedding"))((df, ckpt) =>
      StreamingOps.annServeStream(df, dir, ckpt,
        (rep, _) => got.synchronized { got ++= ranking(rep) }))
    assert(got.synchronized(got.toSet) ==
      ranking(AnnIndexOps.servedTopK(spark, dir, qvecs.toDF("vec_id", "embedding"))),
      "streamed rankings must equal the batch serve over the union")
  }

  /** (center, n_batch, drift_e4) of a drift report's batch-touched centers. */
  private def driftReport(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    d.filter(col("n_batch") > 0).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_batch"), r.getAs[Long]("drift_e4"))).toSet

  test("ANN drift stream: no cache entry or persisted RDD left over five triggers, " +
      "each report equals the batch census of its rows") {
    val s = spark
    import s.implicits._
    import graft.operators.AnnIndexOps
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_guard").toString
    AnnIndexOps.writeIndex(emb.filter(col("vec_id") < 400), dir)
    val batches = fiveBatches(emb.filter(col("vec_id") >= 400).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1))
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Long)]]
    guardedTriggerJobs("ANN drift", batches, Seq("vec_id", "embedding"))((df, ckpt) =>
      StreamingOps.annDriftStream(df, dir, ckpt,
        (rep, bid) => got.synchronized { got(bid) = driftReport(rep) }))
    assert(got.synchronized(got.toSeq.sortBy(_._1).map(_._2)) == batches.map(b =>
      driftReport(AnnIndexOps.quantizerDrift(spark, dir, b.toDF("vec_id", "embedding")))),
      "each streamed drift report must equal the batch census of the same rows")
  }

  test("ANN ingest stream: no cache entry or persisted RDD left over five triggers, " +
      "drift reports and the grown postings equal the batch path") {
    val s = spark
    import s.implicits._
    import graft.operators.AnnIndexOps
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_ann_ingest_guard_s").toString
    val batchDir = java.nio.file.Files.createTempDirectory("graft_ann_ingest_guard_b").toString
    AnnIndexOps.writeIndex(emb.filter(col("vec_id") < 400), streamDir)
    AnnIndexOps.writeIndex(emb.filter(col("vec_id") < 400), batchDir)
    val batches = fiveBatches(emb.filter(col("vec_id") >= 400).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1))
    val expected = batches.map { b =>
      val report = driftReport(AnnIndexOps.quantizerDrift(spark, batchDir, b.toDF("vec_id", "embedding")))
      AnnIndexOps.appendToIndex(spark, batchDir, b.toDF("vec_id", "embedding"))
      report
    }
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Long)]]
    guardedTriggerJobs("ANN ingest", batches, Seq("vec_id", "embedding"))((df, ckpt) =>
      StreamingOps.annIngestStream(df, streamDir, ckpt,
        (rep, bid) => got.synchronized { got(bid) = driftReport(rep) }))
    assert(got.synchronized(got.toSeq.sortBy(_._1).map(_._2)) == expected,
      "each streamed drift report must equal the batch census of the same rows")
    def postings(dir: String) = graft.sources.BulkOps.readPath(spark, s"$dir/postings")
      .select(col("center").cast("long"), col("vec_id"), col("sub"), col("code"))
      .collect().map(_.toSeq).toSet
    assert(postings(streamDir) == postings(batchDir),
      "the streamed appends must grow the postings exactly as the batch appends")
  }

  test("gate stream trigger replay: a mid-append crash replays to an exactly-once effect") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.IndexLifecycle
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_replay").toString
    val corpusText = "a b c d e f g h"
    val novelText = "r1 r2 r3 r4 r5 r6 r7 r8"
    graft.operators.DedupIndexOps.writeIndex(
      Seq((1000L, corpusText), (1001L, "p q r s t u v w")).toDF("doc_id", "text"), dir)
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val verdicts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gate_replay_ck").toString
    def start() = StreamingOps.dedupIngestGateStream(df, dir, ckpt, (rep, bid) =>
      verdicts.synchronized { verdicts ++= rep.collect().map(r =>
        (bid, r.getLong(0), r.getString(1))) })
    // trigger 1 CRASHES inside the append after the mins write landed —
    // the worst torn window: the report is already local-checkpointed
    // (lineage truncated before the index mutates) but not yet emitted,
    // and the derived state is half-written
    IndexLifecycle.crashAt = Some("mins")
    val q1 = start()
    input.addData((1L, corpusText), (2L, novelText))
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    } finally { IndexLifecycle.crashAt = None; q1.stop() }
    // between crash and replay, NOTHING half-appended may serve: doc 2's
    // mins landed but its sigs did not, so it cannot be a candidate
    val midServe = graft.operators.DedupIndexOps.servedDupes(
      spark, dir, Seq((99L, novelText)).toDF("doc_id", "text"))
    assert(midServe.count() == 0,
      "a torn gate append must be invisible to serves until the replay")
    // the restart REPLAYS the uncommitted trigger from the checkpoint
    val q2 = start()
    try {
      q2.processAllAvailable()
      // and a later trigger sees the (now committed) survivor
      input.addData((3L, novelText))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = verdicts.synchronized(verdicts.toList)
    // the sink sees each verdict exactly ONCE: emit runs after
    // gateAndIngest returns, so the crashed trigger emitted nothing and
    // the replay is the only emission — and its verdicts are the ones
    // the untorn trigger would have produced (crash-rerun safety:
    // served dupes never self-match, the append self-heals)
    assert(got.count(v => v._2 == 1L && v._3 == "dup_index") == 1 &&
      got.count(v => v._2 == 2L && v._3 == "ingested") == 1 &&
      got.count(v => v._2 == 1L) == 1 && got.count(v => v._2 == 2L) == 1,
      s"the replayed trigger must emit the untorn verdicts exactly once: $got")
    assert(got.exists(v => v._2 == 3L && v._3 == "dup_index"),
      s"the post-replay trigger must see the committed survivor: $got")
    // exactly-once in effect: one signature set per doc, no leftovers
    // (base ∪ delta — streamed appends live in delta segments)
    Seq(("mins", "k"), ("sigs", "band")).foreach { case (t, c) =>
      assert(graft.TestTables.fullTable(spark, dir, t, Seq("doc_id", c))
        .groupBy("doc_id", c).count()
        .filter(org.apache.spark.sql.functions.col("count") > 1).count() == 0,
        s"replay must not double a single $t row")
    }
    val minsDocs = graft.TestTables.fullTable(spark, dir, "mins", Seq("doc_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(minsDocs == Set(1000L, 1001L, 2L),
      s"exactly the gate survivors may be committed: $minsDocs")
  }

  test("online ingest-dedup: streamed doc batches equal the batch serve over the union") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpusPred = org.apache.spark.sql.functions.col("doc_id") >= 100
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_stream").toString
    graft.operators.DedupIndexOps.writeIndex(docs.filter(corpusPred), dir)
    val arriving = docs.filter(!corpusPred)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dedup_stream_ck").toString
    val q = StreamingOps.dedupServeStream(df, dir, ckpt, (batch, _) =>
      emitted.synchronized { emitted ++= batch.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))) })
    try {
      // two arbitrary batch boundaries — a doc's verdict must not care
      input.addData(arriving.take(30): _*)
      q.processAllAvailable()
      input.addData(arriving.drop(30): _*)
      q.processAllAvailable()
      val streamed = emitted.synchronized(emitted.toSet)
      val batchAll = graft.operators.DedupIndexOps.servedDupes(
          spark, dir, arriving.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batchAll,
        "per-batch online dedup must be batching-invariant")
      assert(streamed.nonEmpty, "fixture batch must collide with the corpus somewhere")
    } finally q.stop()
  }

  test("online ANN serving: streamed query batches equal the batch serve over the union") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_stream").toString
    graft.operators.AnnIndexOps.writeIndex(emb, dir)
    val qvecs = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val df = input.toDF().toDF("vec_id", "embedding")
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ann_stream_ck").toString
    val q = StreamingOps.annServeStream(df, dir, ckpt, (batch, _) =>
      emitted.synchronized { emitted ++= batch.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))) })
    try {
      // two arbitrary batch boundaries — the ranking must not care
      input.addData(qvecs.take(4): _*)
      q.processAllAvailable()
      input.addData(qvecs.drop(4): _*)
      q.processAllAvailable()
      val streamed = emitted.synchronized(emitted.toSet)
      val batchAll = graft.operators.AnnIndexOps.servedTopK(
          spark, dir, qvecs.toDF("vec_id", "embedding")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(streamed == batchAll,
        "per-batch online serving must be batching-invariant")
      assert(streamed.size == 50)
    } finally q.stop()
  }

  test("ANN ingest stream: per-trigger drift alarm + append; the grown index serves the union") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val half = org.apache.spark.sql.functions.col("vec_id") < 400
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_ingest_stream").toString
    graft.operators.AnnIndexOps.writeIndex(emb.filter(half), dir)
    val rest = emb.filter(!half).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val df = input.toDF().toDF("vec_id", "embedding")
    var censusBatches = 0
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ann_ingest_ck").toString
    val q = StreamingOps.annIngestStream(df, dir, ckpt, (census, _) =>
      synchronized { if (census.filter(
        org.apache.spark.sql.functions.col("n_batch") > 0).count() > 0) censusBatches += 1 })
    try {
      val (b1, b2) = rest.splitAt(rest.size / 2)
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(censusBatches == 2, "the drift alarm must fire in every ingesting trigger")
      // the grown index = writeIndex(half) + appendToIndex(rest), the
      // batch path AnnIndexSpec pins ≡ a rebuild over the union
      val postings = graft.sources.BulkOps.readPath(spark, s"$dir/postings")
      assert(postings.select("vec_id").distinct().count() == emb.count(),
        "every streamed vector must land in the posting lists exactly once")
      assert(postings.groupBy("vec_id", "sub").count()
        .filter(org.apache.spark.sql.functions.col("count") > 1).count() == 0)
    } finally q.stop()
  }

  test("streaming drift monitor: each trigger's report equals the batch census of its rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val half = org.apache.spark.sql.functions.col("vec_id") < 400
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_stream").toString
    graft.operators.AnnIndexOps.writeIndex(emb.filter(half), dir)
    val rest = emb.filter(!half).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val df = input.toDF().toDF("vec_id", "embedding")
    type Report = Set[(Long, Long, Long)] // (center, n_batch, drift_e4)
    val reports = scala.collection.mutable.ArrayBuffer.empty[Report]
    def reportOf(d: org.apache.spark.sql.DataFrame): Report =
      d.filter(org.apache.spark.sql.functions.col("n_batch") > 0).collect()
        .map(r => (r.getLong(0), r.getAs[Long]("n_batch"), r.getAs[Long]("drift_e4"))).toSet
    val ckpt = java.nio.file.Files.createTempDirectory("graft_drift_ck").toString
    val q = StreamingOps.annDriftStream(df, dir, ckpt, (batch, _) =>
      reports.synchronized { reports += reportOf(batch) })
    try {
      val (b1, b2) = rest.splitAt(rest.size / 2)
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val got = reports.synchronized(reports.toList)
      assert(got.size == 2)
      // per-trigger report ≡ the batch-path census over that trigger's rows
      Seq(b1, b2).zip(got).foreach { case (rows, streamed) =>
        val batchPath = reportOf(graft.operators.AnnIndexOps.quantizerDrift(
          spark, dir, rows.toDF("vec_id", "embedding")))
        assert(streamed == batchPath,
          "streamed drift report must equal the batch census of the same rows")
      }
    } finally q.stop()
  }

  test("ingest dedup stream keeps first doc per content fingerprint") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val df = input.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = StreamingOps.ingestDedupStream(df)
      .writeStream.format("memory").queryName("ingest_out").outputMode("append").start()
    try {
      // doc 2 is a verbatim dup of doc 1 in the same window; doc 3 differs
      input.addData(
        (1L, "alpha beta gamma", ts(0)),
        (2L, "alpha beta gamma", ts(1)),
        (3L, "delta epsilon", ts(1)))
      q.processAllAvailable()
      val out = s.sql("SELECT doc_id FROM ingest_out").collect().map(_.getLong(0)).sorted
      assert(out.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("ingest dedup stream produces the same answer on the RocksDB state store") {
    // GraftSession's rocksdbStateStore flag sets this provider at session
    // build; here it's set as a runtime conf on the shared test session
    // (providerClass is read at query START, so this is the same code
    // path) and restored after. One real stateful stream through RocksDB
    // proves the 100-TB state configuration actually runs: keyed dedup
    // state lands in RocksDB instead of the executor heap.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = s.conf.getOption(key)
    s.conf.set(key, GraftSession.RocksDbProvider)
    try {
      val input = MemoryStream[(Long, String, Timestamp)]
      val df = input.toDF().toDF("doc_id", "text", "ingest_ts")
      val q = StreamingOps.ingestDedupStream(df)
        .writeStream.format("memory").queryName("ingest_rocks").outputMode("append").start()
      try {
        input.addData(
          (1L, "alpha beta gamma", ts(0)),
          (2L, "alpha beta gamma", ts(1)),
          (3L, "delta epsilon", ts(1)))
        q.processAllAvailable()
        // dedup state must persist ACROSS batches through RocksDB: doc 4
        // repeats doc 1's fingerprint two batches later and is dropped
        input.addData((4L, "alpha beta gamma", ts(2)), (5L, "zeta eta", ts(2)))
        q.processAllAvailable()
        val out = s.sql("SELECT doc_id FROM ingest_rocks").collect().map(_.getLong(0)).sorted
        assert(out.toSeq == Seq(1L, 3L, 5L))
      } finally q.stop()
    } finally prior.fold(s.conf.unset(key))(v => s.conf.set(key, v))
  }

  test("streaming KMV sketch: bucket states merge to exactly the batch sketch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = graft.sources.Tables.documents(s, sf)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.kmvVocabStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("kmv_stream").outputMode("update").start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      // latest state per bucket = the row with the largest cumulative
      // token count (update mode re-emits a bucket each time it changes)
      val rows = s.sql("SELECT bucket, kmins, n_tokens_seen FROM kmv_stream").collect()
      val latest = rows.groupBy(_.getLong(0)).map { case (_, rs) =>
        rs.maxBy(_.getLong(2))
      }
      val mergedKmins = latest.flatMap(_.getSeq[Long](1)).toSeq.distinct.sorted
        .take(graft.operators.SketchOps.KmvK)
      // KMV merge associativity: the k smallest over the buckets' union
      // must equal the batch sketch (same hashes, same order)
      val batch = graft.operators.SketchOps
        .kmvVocabSketch(graft.sources.Tables.documents(s, sf)).head
      assert(mergedKmins.size.toLong == batch.getLong(0), "merged sketch size != batch k_used")
      assert(mergedKmins.max == batch.getLong(1), "merged kth-min != batch kth_h60")
      // the cumulative counters saw every token instance exactly once
      val totalSeen = latest.map(_.getLong(2)).sum
      val expected = graft.sources.Tables.documents(s, sf)
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))).count()
      assert(totalSeen == expected, s"state counters saw $totalSeen of $expected tokens")
    } finally q.stop()
  }

  test("streaming CMS sketch: cumulative cells equal the batch sketch exactly") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = graft.sources.Tables.documents(s, sf)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.cmsFreqStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cms_stream").outputMode("update").start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      // latest state per cell = its max counter (counters only grow)
      val streamed = s.sql(
        "SELECT row_id, bucket, MAX(cnt) AS cnt FROM cms_stream GROUP BY row_id, bucket")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      // CMS linearity: the cumulative stream cells ARE the batch sketch
      val batch = graft.operators.SketchOps
        .cmsSketch(graft.sources.Tables.documents(s, sf))
        .collect().map(r => (r.getInt(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
      assert(streamed == batch, "streamed CMS cells must equal the batch sketch")
    } finally q.stop()
  }

  test("simhash near-dup stream flags an identical doc across batches on all 4 bands") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again today"
    val other = "spark structured streaming keeps keyed state inside the state store backend"
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.nearDupStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_out").outputMode("append").start()
    try {
      input.addData((1L, base), (2L, other))
      q.processAllAvailable()
      assert(s.sql("SELECT * FROM neardup_out").count() == 0,
        "distinct docs in the first batch must not collide")
      input.addData((3L, base), (4L, "tiny"))
      q.processAllAvailable()
      val out = s.sql("SELECT doc_id, dup_of, band, hamming FROM neardup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).sorted
      // doc 3 is verbatim doc 1: hamming 0, so every band fires; doc 4
      // is below the 3-token trigram floor and must be invisible
      assert(out.toSeq == (0 until 4).map(b => (3L, 1L, b, 0)))
    } finally q.stop()
  }

  test("simhash near-dup stream: a full bucket goes dark instead of squaring") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = "one two three four five six seven eight nine ten"
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.nearDupStream(input.toDF().toDF("doc_id", "text"), maxPerBucket = 2)
      .writeStream.format("memory").queryName("neardup_dark").outputMode("append").start()
    try {
      input.addData((1L, base), (2L, base), (3L, base))
      q.processAllAvailable()
      val hits = s.sql("SELECT doc_id, dup_of FROM neardup_dark").collect()
        .map(r => (r.getLong(0), r.getLong(1))).distinct.sorted
      // docs 1,2 fill each bucket (cap 2); doc 3 arrives to full buckets
      // and is neither paired nor admitted
      assert(hits.toSeq == Seq((2L, 1L)))
    } finally q.stop()
  }

  test("simhash near-dup stream evicts fingerprints beyond the retention horizon") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def t(h: Int, m: Int = 0) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[(Long, String, Timestamp)]
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val q = StreamingOps.nearDupStream(
        input.toDF().toDF("doc_id", "text", "ingest_ts"), retention = Some("1 hour"))
      .writeStream.format("memory").queryName("evict_out").outputMode("append").start()
    try {
      input.addData((1L, dupText, t(10)))
      q.processAllAvailable()
      // advance the watermark to 12:00 (13:00 - 1h): doc 1 ages out
      input.addData((2L, "totally different filler text here padding words", t(13)))
      q.processAllAvailable()
      input.addData((3L, dupText, t(13)))
      q.processAllAvailable()
      input.addData((4L, dupText, t(13, 30)))
      q.processAllAvailable()
      val hits = s.sql("SELECT doc_id, dup_of FROM evict_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!hits.exists(_._2 == 1L), s"evicted doc 1 still paired: $hits")
      assert(hits.contains((4L, 3L)), s"recent docs must still pair: $hits")
    } finally q.stop()
  }

  test("simhash near-dup stream agrees with batch simhashDedup on the fixture corpus") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = graft.sources.Tables.documents(s, sf).select("doc_id", "text")
    // batch pairs (da < db, hamming <= 3); fixture band buckets are far
    // below the cap, so dark-bucket vs dropped-bucket semantics cannot
    // diverge here and the two paths must agree exactly
    val batchPairs = graft.operators.DedupOps.simhashDedup(docs, s)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.nearDupStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_diff").outputMode("append").start()
    try {
      // arrival in doc_id order => every hit is (later, earlier)
      input.addData(docs.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      q.processAllAvailable()
      val streamPairs = s.sql("SELECT dup_of, doc_id FROM neardup_diff").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamPairs == batchPairs,
        s"stream-only: ${(streamPairs -- batchPairs).take(5)}; batch-only: ${(batchPairs -- streamPairs).take(5)}")
    } finally q.stop()
  }

  test("backoff gate scores the corpus identically to batch trigramBackoff") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = graft.sources.Tables.documents(s, sf)
      .select("doc_id", "text").orderBy("doc_id").limit(60).cache()
    // LM trains on the same md5 half trigramBackoff trains on, so the
    // stream scorer must reproduce the batch query on every doc —
    // including held-out docs going down the backoff ladder.
    val lm = graft.operators.LmOps.trainTrigramLm(docs)
    val expected = graft.operators.LmOps.trigramBackoff(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingOps.backoffScoreStream(
      input.toDF().toDF("doc_id", "text", "ingest_ts"), lm)
      .writeStream.format("memory").queryName("backoff_out").outputMode("append").start()
    try {
      input.addData(docs.collect().map(r => (r.getLong(0), r.getString(1), ts(0))).toSeq: _*)
      q.processAllAvailable()
      // far-future doc advances the watermark so the first window closes
      input.addData((999999L, "a b c", Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val got = s.sql(
        "SELECT doc_id, n_trigrams, n_tri, n_bi, n_uni, backoff_e4 FROM backoff_out WHERE doc_id < 999999")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      assert(got == expected,
        s"stream-only: ${(got -- expected).take(3)}; batch-only: ${(expected -- got).take(3)}")
    } finally q.stop()
  }

  test("dsir gate scores the corpus identically to batch; unseen buckets get the default") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = graft.sources.Tables.documents(s, sf)
      .orderBy("doc_id").limit(60).cache()
    val model = graft.operators.LmOps.trainDsir(docs)
    val expected = graft.operators.LmOps.dsirWeights(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingOps.dsirScoreStream(
      input.toDF().toDF("doc_id", "text", "ingest_ts"), model)
      .writeStream.format("memory").queryName("dsir_out").outputMode("append").start()
    try {
      // the corpus, plus a doc of never-seen tokens: all-default buckets
      input.addData(docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), ts(0))).toSeq: _*)
      input.addData((777777L, "qqj wzx vbn mlk", ts(1)))
      q.processAllAvailable()
      input.addData((999999L, "a b", Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val got = s.sql(
        "SELECT doc_id, n_feats, imp_e6 FROM dsir_out WHERE doc_id < 777777")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected,
        s"stream-only: ${(got -- expected).take(3)}; batch-only: ${(expected -- got).take(3)}")
      // the novel doc scores exactly what the model lookup (hit OR the
      // unseen-bucket default) says — recomputed batch-side here
      val wantNovel = Seq("qqj wzx", "wzx vbn", "vbn mlk").toDF("bg")
        .select((graft.functions.TextFunctions.stableHash60(col("bg"))
          % graft.operators.LmOps.DsirBuckets).as("b"))
        .join(model.ratio, Seq("b"), "left")
        .agg(floor(sum(coalesce(col("ratio_e6"), lit(model.defaultRatioE6)))
          .cast("double") / count(lit(1)) + 0.5).cast("long"))
        .collect()(0).getLong(0)
      val novel = s.sql("SELECT n_feats, imp_e6 FROM dsir_out WHERE doc_id = 777777")
        .collect()(0)
      assert(novel.getLong(0) == 3L && novel.getLong(1) == wantNovel,
        s"novel doc must score the model lookup exactly, got $novel (want $wantNovel)")
    } finally q.stop()
  }

  test("nb gate scores the corpus identically to batch; unseen tokens get the default") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = graft.sources.Tables.documents(s, sf)
      .orderBy("doc_id").limit(60).cache()
    val model = graft.operators.LmOps.trainNb(docs)
    val expected = graft.operators.LmOps.nbScore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingOps.nbScoreStream(
      input.toDF().toDF("doc_id", "text", "ingest_ts"), model)
      .writeStream.format("memory").queryName("nb_out").outputMode("append").start()
    try {
      // the corpus, plus a doc of never-seen tokens: all-default lookups
      input.addData(docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), ts(0))).toSeq: _*)
      input.addData((777777L, "qqj wzx vbn", ts(1)))
      q.processAllAvailable()
      input.addData((999999L, "a b", Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val got = s.sql(
        "SELECT doc_id, n_toks, nb_e4, pred_trusted FROM nb_out WHERE doc_id < 777777")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
      assert(got == expected,
        s"stream-only: ${(got -- expected).take(3)}; batch-only: ${(expected -- got).take(3)}")
      // the novel doc scores exactly what the model lookup (hit OR the
      // unseen-token default) says — recomputed batch-side here
      val wantNovel = Seq("qqj", "wzx", "vbn").toDF("tok")
        .join(model.post.select("tok", "post_e9"), Seq("tok"), "left")
        .agg(floor(sum(coalesce(col("post_e9"), lit(model.defaultPostE9)))
          .cast("double") / count(lit(1)) / 100000L + 0.5).cast("long"))
        .collect()(0).getLong(0)
      val novel = s.sql("SELECT n_toks, nb_e4 FROM nb_out WHERE doc_id = 777777")
        .collect()(0)
      assert(novel.getLong(0) == 3L && novel.getLong(1) == wantNovel,
        s"novel doc must score the model lookup exactly, got $novel (want $wantNovel)")
    } finally q.stop()
  }

  test("decontamination gate flags the same docs and counts as batch; planted leak caught") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = graft.sources.Tables.documents(s, sf)
    // plant a guaranteed leak: a non-benchmark doc carrying a benchmark
    // doc's full text (777777 % 97 = 31, never the benchmark remainder)
    val benchText = base
      .filter(col("doc_id") % graft.operators.CurationOps.BenchMod ===
        graft.operators.CurationOps.BenchRem)
      .select("text").limit(1).collect()(0).getString(0)
    val docs = base.select("doc_id", "text", "lang", "source")
      .unionByName(Seq((777777L, benchText, "en", "web"))
        .toDF("doc_id", "text", "lang", "source"))
      .cache()
    val expected = graft.operators.CurationOps.contamination(docs)
      .select("doc_id", "n_shared_shingles").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.exists(_._1 == 777777L), "the planted leak must flag in batch")
    val benchSet = graft.operators.CurationOps.benchmarkShingleSet(docs)
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingOps.contaminationStream(
      input.toDF().toDF("doc_id", "text", "ingest_ts"), benchSet)
      .writeStream.format("memory").queryName("contam_out").outputMode("append").start()
    try {
      input.addData(docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), ts(0))).toSeq: _*)
      q.processAllAvailable()
      input.addData((999999L, "a b c", Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val got = s.sql(
        "SELECT doc_id, n_shared_shingles FROM contam_out WHERE doc_id < 999999")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"stream-only: ${(got -- expected).take(3)}; batch-only: ${(expected -- got).take(3)}")
    } finally q.stop()
  }

  test("graftkv micro-batch stream tails the row log exactly once, filters pushed") {
    import graft.sources.kv.KvStore
    val s = spark
    import s.implicits._
    val schema = Seq((1L, "a", "en")).toDF("id", "txt", "lang").schema
    KvStore.put("kv_stream", schema, Seq(Seq(1L, "one", "en"), Seq(2L, "zwei", "de")))
    val q = s.readStream.format("graftkv")
      .option(graft.sources.Tables.TableNameOption, "kv_stream").load()
      .filter(col("lang") === "en")
      .writeStream.format("memory").queryName("kv_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(s.sql("SELECT id FROM kv_tail").collect().map(_.getLong(0)).toSet == Set(1L))
      // appended rows arrive in the NEXT batch, earlier rows never re-emit
      KvStore.append("kv_stream", schema, Seq(Seq(3L, "three", "en"), Seq(4L, "quatre", "fr")))
      q.processAllAvailable()
      val got = s.sql("SELECT id FROM kv_tail").collect().map(_.getLong(0)).toSeq
      assert(got.sorted == Seq(1L, 3L), s"exactly-once en rows, got $got")
    } finally {
      q.stop()
      KvStore.drop("kv_stream")
    }
  }

  test("fluency gate scores the training corpus identically to batch bigramFluency") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown cat sleeps on the warm mat"),
      (3L, "a completely different sentence with its own words"),
      (4L, "short"))
    val corpus = texts.toDF("doc_id", "text")
    val lm = graft.operators.CurationOps.trainBigramLm(corpus)
    val expected = graft.operators.CurationOps.bigramFluency(corpus)
      .select("doc_id", "n_bigrams", "fluency_e4").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingOps.fluencyScoreStream(
      input.toDF().toDF("doc_id", "text", "ingest_ts"), lm)
      .writeStream.format("memory").queryName("fluency_out").outputMode("append").start()
    try {
      input.addData(texts.map { case (id, t) => (id, t, ts(0)) }: _*)
      q.processAllAvailable()
      // far-future doc advances the watermark so the first window closes
      input.addData((99L, "x y", Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val got = s.sql("SELECT doc_id, n_bigrams, fluency_e4 FROM fluency_out WHERE doc_id < 99")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"stream $got vs batch $expected")
    } finally q.stop()
  }

  test("heavy-hitter stream flags only keys crossing the threshold, per closed window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val q = StreamingOps.heavyHitterStream(
      input.toDF().toDF("ts", "user_id"), "user_id", threshold = 3L)
      .writeStream.format("memory").queryName("hh_out").outputMode("append").start()
    try {
      // user 7 hits 3 times inside one 10-min window; user 8 only twice
      input.addData((ts(1), 7L), (ts(2), 7L), (ts(3), 7L), (ts(4), 8L), (ts(5), 8L))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 12:00:00"), 9L))
      q.processAllAvailable()
      val out = s.sql("SELECT key, n_rows FROM hh_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(out.toSeq == Seq((7L, 3L)), s"got ${out.toSeq}")
    } finally q.stop()
  }

  test("value-drift stream reproduces batch daily means exactly on the fixture feed") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ev = graft.sources.Tables.events(s, sf)
      .select("ts", "event_type", "value").orderBy("ts")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
    val input = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingOps.valueDriftStream(input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("drift_out").outputMode("append").start()
    try {
      // time-ordered split across micro-batches: nothing arrives behind
      // the watermark, windows straddling the split stay open in state
      input.addData(ev.take(400).toSeq: _*)
      q.processAllAvailable()
      input.addData(ev.drop(400).toSeq: _*)
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2030-01-01 00:00:00"), "zzz", 0.0))
      q.processAllAvailable()
      val got = s.sql(
        "SELECT event_type, day, n, mean_e4 FROM drift_out WHERE event_type <> 'zzz'")
        .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3)))
        .toSet
      val want = graft.operators.EventsOps.valueDrift(graft.sources.Tables.events(s, sf))
        .select("event_type", "day", "n", "mean_e4")
        .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == want, s"stream/batch drift disagree: ${got.diff(want)} / ${want.diff(got)}")
    } finally q.stop()
  }

  test("media ingest gate census matches the batch sniff exactly (stream twin)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.MultimodalOps
    val docs = graft.sources.Tables.documents(s, sf)
    // a three-format feed with injected garbage: PNG/JPEG from the mixed
    // table, every 5th doc swapped to WAV, every 11th to non-media bytes
    val feedDf = MultimodalOps.mixedMediaTable(docs).filter(col("doc_id") % 5 =!= 0)
      .unionByName(MultimodalOps.wavMediaTable(docs).filter(col("doc_id") % 5 === 0))
      .withColumn("media", when(col("doc_id") % 11 === 1,
        encode(lit("not media at all"), "UTF-8")).otherwise(col("media")))
    val ts = Timestamp.valueOf("2026-01-01 00:30:00")
    val rows = feedDf.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1), ts))
    val input = MemoryStream[(Long, Array[Byte], Timestamp)]
    val q = StreamingOps.mediaGateStream(
      input.toDF().toDF("doc_id", "media", "ingest_ts"))
      .writeStream.format("memory").queryName("media_gate").outputMode("append").start()
    try {
      input.addData(rows.take(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
      // flush row far ahead: advances the watermark, closes the window
      input.addData((-1L, Array[Byte](0), Timestamp.valueOf("2030-01-01 00:00:00")))
      q.processAllAvailable()
      val got = s.sql(
        "SELECT status, n FROM media_gate WHERE window_start_us = " +
          "(SELECT MIN(window_start_us) FROM media_gate)")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val want = feedDf
        .select(col("media") +: MultimodalOps.walkOffsets(col("media")): _*)
        .select(MultimodalOps.sniffStatus(
          col("media"), col("sof_off"), col("fmt_off")).as("status"))
        .groupBy("status").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got == want, s"gate/batch sniff disagree: $got vs $want")
      assert(got.keySet.contains("unknown") && got.keySet.intersect(
        Set("png", "jpeg", "wav")).size == 3)
    } finally q.stop()
  }

  test("new-server watcher emits each server exactly once (O-58)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val q = StreamingOps.newServers(input.toDS())
      .writeStream.format("memory").queryName("servers_out").outputMode("append").start()
    try {
      input.addData(("s1", ts(0)), ("s1", ts(1)))
      q.processAllAvailable()
      input.addData(("s2", ts(2)), ("s1", ts(3)))
      q.processAllAvailable()
      val out = s.sql("SELECT server FROM servers_out").collect().map(_.getString(0)).sorted
      assert(out.toSeq == Seq("s1", "s2"))
    } finally q.stop()
  }
}
