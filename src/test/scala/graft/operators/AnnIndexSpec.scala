package graft.operators

import graft.SparkSpec
import graft.contract.IndexFixtures
import graft.sources.Tables
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The persisted-index contract: write-then-serve equals the fresh-build
  * chain, ingest is additive, and the served plan touches index tables
  * only. */
class AnnIndexSpec extends SparkSpec {

  test("served search through a WRITTEN index equals the fresh ivfpq_res_t chain row-for-row") {
    val got = IndexFixtures.served(IndexFixtures.Ann, spark, sf)
    val fresh = PqOps.ivfPqResidualTrainedTopK(Tables.embeddings(spark, sf))
    assert(got.exceptAll(fresh).count() == 0 && fresh.exceptAll(got).count() == 0,
      "stored-index serve must be bit-identical to the session build")
    assert(got.count() == 50)
  }

  test("incremental add: batch encoded against the stored quantizer ≡ full re-encode") {
    val emb = Tables.embeddings(spark, sf)
    // quantizer trained on the OLD corpus only (the ingest contract)
    val old = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val (cents, cb, postOld) = AnnIndexOps.buildIndex(old)
    val together = postOld.unionByName(AnnIndexOps.encodeAgainst(batch, cents, cb))
    val rebuilt = AnnIndexOps.encodeAgainst(emb, cents, cb)
    assert(together.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(together).count() == 0,
      "append must produce exactly what a full re-encode against the stored quantizer would")
    // every vector carries exactly one code per subspace
    assert(rebuilt.groupBy("vec_id").count().filter(col("count") =!= 8).count() == 0)
  }

  test("append INTO the stored index: serving after the ingest equals a rebuild over the union") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    // index built (and its quantizer TRAINED) on the old corpus only
    val dirA = Files.createTempDirectory("graft_annidx_a").toString
    AnnIndexOps.writeIndex(old, dirA)
    AnnIndexOps.appendToIndex(spark, dirA, batch)
    // reference: the union encoded fresh against the SAME old-trained
    // quantizer, written whole
    val dirB = Files.createTempDirectory("graft_annidx_b").toString
    val (cents, cb, _) = AnnIndexOps.buildIndex(old)
    graft.sources.BulkOps.writePath(cents,
      org.apache.spark.sql.SaveMode.Overwrite).save(s"$dirB/centroids")
    graft.sources.BulkOps.writePath(cb,
      org.apache.spark.sql.SaveMode.Overwrite).save(s"$dirB/codebook")
    graft.sources.BulkOps.writePath(
        AnnIndexOps.encodeAgainst(emb, cents, cb),
        org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("center").save(s"$dirB/postings")
    val s = spark
    import s.implicits._
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    val a = AnnIndexOps.servedTopK(spark, dirA, queries)
    val b = AnnIndexOps.servedTopK(spark, dirB, queries)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "appended index must serve exactly what a rebuilt-union index serves")
    assert(a.count() == 50)
  }

  test("append is idempotent under redelivery: re-ingested vec_ids never double-code") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft_annidx_redeliver").toString
    AnnIndexOps.writeIndex(emb.filter(col("vec_id") < 400), dir)
    val batch = emb.filter(col("vec_id") >= 400)
    AnnIndexOps.appendToIndex(spark, dir, batch)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    val expect = AnnIndexOps.servedTopK(spark, dir, queries).collect().toSet
    // an at-least-once pipeline redelivers the batch (and a slice of the
    // ORIGINAL corpus for good measure)
    AnnIndexOps.appendToIndex(spark, dir, batch)
    AnnIndexOps.appendToIndex(spark, dir, emb.filter(col("vec_id") % 3 === 0))
    val postings = graft.sources.BulkOps.readPath(spark, s"$dir/postings")
    assert(postings.groupBy("vec_id", "sub").count().filter(col("count") > 1).count() == 0,
      "a redelivered vector must not write a second code set")
    assert(AnnIndexOps.servedTopK(spark, dir, queries).collect().toSet == expect,
      "redelivery must not change a single served row")
  }

  test("delete: tombstone-masked serve ≡ physically compacted serve ≡ encode-the-survivors") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft_annidx_del").toString
    AnnIndexOps.writeIndex(emb, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    // delete a band of vectors that definitely held top-5 slots
    val deadPred = col("vec_id") % 10 === 3 && col("vec_id") >= 10
    AnnIndexOps.deleteFromIndex(spark, dir, emb.filter(deadPred).select("vec_id"))
    val masked = AnnIndexOps.servedTopK(spark, dir, queries).cache()
    assert(masked.filter(col("vec_id") % 10 === 3).count() == 0,
      "no tombstoned vector may be served")
    assert(masked.count() == 50, "k slots must backfill from surviving vectors")
    // reference: an index whose POSTINGS are the survivors encoded
    // against the SAME full-trained quantizer (encodeAgainst is
    // row-independent, so this is exactly 'the rows minus the deleted')
    val dirB = Files.createTempDirectory("graft_annidx_delb").toString
    val (cents, cb, _) = AnnIndexOps.buildIndex(emb)
    graft.sources.BulkOps.writePath(cents,
      org.apache.spark.sql.SaveMode.Overwrite).save(s"$dirB/centroids")
    graft.sources.BulkOps.writePath(cb,
      org.apache.spark.sql.SaveMode.Overwrite).save(s"$dirB/codebook")
    graft.sources.BulkOps.writePath(
        AnnIndexOps.encodeAgainst(emb.filter(!deadPred), cents, cb),
        org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("center").save(s"$dirB/postings")
    val rebuilt = AnnIndexOps.servedTopK(spark, dirB, queries)
    assert(masked.exceptAll(rebuilt).count() == 0 && rebuilt.exceptAll(masked).count() == 0,
      "tombstone mask must serve exactly the survivor-encoded index")
    // major compaction: physical drop, tombstone log cleared, serve unchanged
    assert(AnnIndexOps.compactIndex(spark, dir), "tombstones present → compaction must run")
    assert(AnnIndexOps.tombstonesOpt(spark, dir).isEmpty, "compaction clears the log")
    val compacted = AnnIndexOps.servedTopK(spark, dir, queries)
    assert(masked.exceptAll(compacted).count() == 0 && compacted.exceptAll(masked).count() == 0,
      "compaction must not change a single served row")
    assert(graft.sources.BulkOps.readPath(spark, s"$dir/postings")
      .filter(col("vec_id") % 10 === 3 && col("vec_id") >= 10).count() == 0,
      "compaction physically drops tombstoned postings")
    assert(!AnnIndexOps.compactIndex(spark, dir), "nothing to compact → no-op")
    masked.unpersist()
  }

  test("compaction crash windows: recoverSwap completes or rolls back; tombstones survive aborts") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf)
    def freshIndex(): String = {
      val dir = Files.createTempDirectory("graft_annidx_crash").toString
      AnnIndexOps.writeIndex(emb, dir)
      AnnIndexOps.deleteFromIndex(spark, dir,
        emb.filter(col("vec_id") % 10 === 3 && col("vec_id") >= 10).select("vec_id"))
      dir
    }
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    def serve(dir: String) = AnnIndexOps.servedTopK(spark, dir, queries)
    import graft.sources.BulkOps

    // window 1: crash AFTER the live table moved aside, BEFORE the
    // compacted copy landed → recoverSwap must roll back to the old copy
    val d1 = freshIndex()
    val expect = serve(d1).collect().toSet // masked serve (tombstones live)
    assert(BulkOps.renamePath(spark, s"$d1/postings", s"$d1/postings_old"))
    IndexLifecycle.recoverSwap(spark, s"$d1/postings")
    assert(BulkOps.fileExists(spark, s"$d1/postings"))
    assert(!BulkOps.fileExists(spark, s"$d1/postings_old"))
    assert(serve(d1).collect().toSet == expect, "rollback must restore the masked serve")

    // window 2: crash BETWEEN the two renames (old moved aside AND the
    // compacted copy written) → recoverSwap must complete the swap; the
    // tombstone log is still present, so the next compaction no-ops the
    // same rows and serving stays identical
    val d2 = freshIndex()
    val expect2 = serve(d2).collect().toSet
    val tomb = BulkOps.readPath(spark, s"$d2/tombstones")
    val keep = BulkOps.readPath(spark, s"$d2/postings")
      .withColumn("center", col("center").cast("long"))
      .join(org.apache.spark.sql.functions.broadcast(tomb.select("vec_id")),
        Seq("vec_id"), "left_anti")
      .select("center", "vec_id", "sub", "code")
    BulkOps.writePath(keep, org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("center").save(s"$d2/postings_compact")
    assert(BulkOps.renamePath(spark, s"$d2/postings", s"$d2/postings_old"))
    IndexLifecycle.recoverSwap(spark, s"$d2/postings")
    assert(BulkOps.fileExists(spark, s"$d2/postings"))
    assert(!BulkOps.fileExists(spark, s"$d2/postings_old") &&
      !BulkOps.fileExists(spark, s"$d2/postings_compact"))
    assert(serve(d2).collect().toSet == expect2,
      "completed swap must serve the same masked answer")
    // and a full compactIndex afterwards still converges (drops the log)
    assert(AnnIndexOps.compactIndex(spark, d2))
    assert(serve(d2).collect().toSet == expect2)

    // stale leftover BESIDE a live table (crash after swap, before
    // cleanup): superseded copies are dropped so the next swap's renames
    // cannot no-op against an existing destination
    val d3 = freshIndex()
    BulkOps.writePath(BulkOps.readPath(spark, s"$d3/postings"),
      org.apache.spark.sql.SaveMode.Overwrite).save(s"$d3/postings_old")
    assert(AnnIndexOps.compactIndex(spark, d3), "compaction must run through the stale leftover")
    assert(!BulkOps.fileExists(spark, s"$d3/postings_old"))
    assert(!BulkOps.fileExists(spark, s"$d3/tombstones"))
  }

  test("TORN append self-heals: a crash at every protocol step converges after one redelivery") {
    import graft.sources.BulkOps
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val ref = Files.createTempDirectory("graft_annidx_tornref").toString
    AnnIndexOps.writeIndex(old, ref)
    AnnIndexOps.appendToIndex(spark, ref, batch)
    Seq("pending", "postings", "ids").foreach { step =>
      val dir = Files.createTempDirectory(s"graft_annidx_torn_$step").toString
      AnnIndexOps.writeIndex(old, dir)
      IndexLifecycle.crashAt = Some(step)
      try intercept[IllegalStateException] {
        AnnIndexOps.appendToIndex(spark, dir, batch)
      } finally IndexLifecycle.crashAt = None
      AnnIndexOps.appendToIndex(spark, dir, batch)
      val a = BulkOps.readPath(spark, s"$dir/postings").drop("center")
      val b = BulkOps.readPath(spark, s"$ref/postings").drop("center")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"healed postings after a crash at '$step' must equal the untorn append")
      assert(BulkOps.readPath(spark, s"$dir/postings")
        .groupBy("vec_id", "sub").count().filter(col("count") > 1).count() == 0,
        s"crash at '$step': the redelivery must not double-code a vector")
    }
  }

  test("append guard is sidecar-pruned: a steady-state append never scans the postings") {
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft_annidx_guardplan").toString
    AnnIndexOps.writeIndex(emb.filter(col("vec_id") < 400), dir)
    // with no crash evidence, the idempotence guard must probe the ids
    // sidecar and never the postings table (the r11 sub=0 slice read) —
    // the quantizer tables are legitimately read (the encode needs them)
    val audited = graft.sources.BulkOps.recordReads {
      AnnIndexOps.appendToIndex(spark, dir, emb.filter(col("vec_id") >= 400))
    }
    val storedReads = audited.filter(_.startsWith(dir))
    assert(storedReads.exists(_.contains("/ids")), s"guard must probe the sidecar: $storedReads")
    assert(!storedReads.exists(_.endsWith("/postings")),
      s"steady-state append must not read the postings: $storedReads")
  }

  test("rebuild (the drift remedy): retrain-and-swap ≡ fresh build; crash windows roll forward") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf)
    val half = col("vec_id") < 400
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    def serve(dir: String) = AnnIndexOps.servedTopK(spark, dir, queries)

    // the drifted deployment: index trained on half, the affine-shifted
    // rest ingested through the stored (now ill-fitting) quantizer
    val shifted = emb.filter(!half)
      .withColumn("embedding", transform(col("embedding"), x => x * 3.0f + 0.5f))
      .withColumn("vec_id", col("vec_id") + 10000L)
      .select("vec_id", "embedding", "label")
    val union = emb.filter(half).select("vec_id", "embedding", "label").unionByName(shifted)
    val dir = Files.createTempDirectory("graft_annidx_rebuild").toString
    AnnIndexOps.writeIndex(emb.filter(half), dir)
    AnnIndexOps.appendToIndex(spark, dir, shifted)
    val before = AnnIndexOps.quantizerDrift(spark, dir, shifted)
      .filter(col("n_batch") > 0)
      .agg(avg(col("drift_e4"))).collect()(0).getDouble(0)
    assert(before > 20000, s"the shifted ingest must read as drifted, got $before")

    // the remedy: retrain on the CURRENT corpus and swap
    AnnIndexOps.rebuildIndex(spark, dir, union)
    // differential: serving ≡ a fresh writeIndex over the same corpus
    val ref = Files.createTempDirectory("graft_annidx_rebuildref").toString
    AnnIndexOps.writeIndex(union, ref)
    val a = serve(dir)
    val b = serve(ref)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "post-rebuild serve must equal a fresh-build serve row-for-row")
    // round trip: the same batch against the RETRAINED baseline reads ~1.0
    val after = AnnIndexOps.quantizerDrift(spark, dir, shifted)
      .filter(col("n_batch") > 0)
      .agg(avg(col("drift_e4"))).collect()(0).getDouble(0)
    assert(after > 2000 && after < 50000,
      s"drift must return to ~10^4 after the retrain, got $after (was $before)")
    // and the rebuilt sidecar guards appends (redelivery appends nothing)
    AnnIndexOps.appendToIndex(spark, dir, shifted)
    assert(graft.sources.BulkOps.readPath(spark, s"$dir/postings")
      .groupBy("vec_id", "sub").count().filter(col("count") > 1).count() == 0,
      "the rebuilt index must keep the idempotence guard intact")

    // crash windows. Before the commit marker: the live index never
    // changed — the next lifecycle op discards the staged copies
    val d1 = Files.createTempDirectory("graft_annidx_rbcrash1").toString
    AnnIndexOps.writeIndex(emb.filter(half), d1)
    val expect1 = serve(d1).collect().toSet
    IndexLifecycle.crashAt = Some("fold_stage")
    try intercept[IllegalStateException] {
      AnnIndexOps.rebuildIndex(spark, d1, union)
    } finally IndexLifecycle.crashAt = None
    assert(serve(d1).collect().toSet == expect1,
      "a crash before the commit marker must leave the live index untouched")
    AnnIndexOps.compactIndex(spark, d1) // any lifecycle op — discards stale _compact copies
    assert(!graft.sources.BulkOps.fileExists(spark, s"$d1/postings_compact"),
      "recovery must discard the uncommitted staged tables")
    assert(serve(d1).collect().toSet == expect1)

    // after the marker (mid-swap or before any swap): recovery must land
    // ALL-new (a mixed old/new quantizer state is the failure mode this
    // journal exists to exclude) — the next lifecycle entry point rolls
    // forward from the surviving _compact copies
    Seq("fold_commit", "fold_swap_codebook").foreach { step =>
      val d2 = Files.createTempDirectory(s"graft_annidx_rbcrash_$step").toString
      AnnIndexOps.writeIndex(emb.filter(half), d2)
      IndexLifecycle.crashAt = Some(step)
      try intercept[IllegalStateException] {
        AnnIndexOps.rebuildIndex(spark, d2, union)
      } finally IndexLifecycle.crashAt = None
      AnnIndexOps.compactIndex(spark, d2) // recovery preamble rolls the swap forward
      val c = serve(d2)
      assert(c.exceptAll(b).count() == 0 && b.exceptAll(c).count() == 0,
        s"crash at '$step': recovery must complete the rebuild and serve the fresh-build answer")
    }
  }

  /** `dir` after a build or rebuild over `corpus`: it serves what a
    * fresh build of `corpus` serves, commits exactly its ids, accepts an
    * append, and a following compaction changes nothing. */
  private def assertOwnsCorpus(dir: String, corpus: org.apache.spark.sql.DataFrame): Unit = {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    val ids = corpus.select("vec_id").collect().map(_.getLong(0)).toSet
    val ref = Files.createTempDirectory("graft_annidx_ownref").toString
    AnnIndexOps.writeIndex(corpus, ref)
    val expect = AnnIndexOps.servedTopK(spark, ref, queries).collect().toSet
    def state() = (AnnIndexOps.servedTopK(spark, dir, queries).collect().toSet,
      IndexLifecycle.committedProbe(spark, dir, "vec_id", emb.select("vec_id"))
        .collect().map(_.getLong(0)).toSet,
      graft.sources.BulkOps.readPath(spark, s"$dir/postings")
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet)
    assert(state() == ((expect, ids, ids)),
      "the index must serve, commit and hold exactly the new corpus")
    // a redelivery is accepted (no journal left to refuse it) and appends nothing
    AnnIndexOps.appendToIndex(spark, dir, corpus.filter(col("vec_id") < 100))
    AnnIndexOps.compactIndex(spark, dir)
    assert(state() == ((expect, ids, ids)), "the following compaction must change nothing")
  }

  test("a fresh build over a rebuild's stale journal serves, commits and compacts only the new corpus") {
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft_annidx_stale_rebuild").toString
    AnnIndexOps.writeIndex(emb, dir)
    IndexLifecycle.crashAt = Some("fold_commit")
    try intercept[IllegalStateException] {
      AnnIndexOps.rebuildIndex(spark, dir, emb.filter(col("vec_id") % 2 === 0))
    } finally IndexLifecycle.crashAt = None
    val odd = emb.filter(col("vec_id") % 2 === 1)
    AnnIndexOps.writeIndex(odd, dir)
    assertOwnsCorpus(dir, odd)
  }

  test("a rebuild over a fold's stale journal serves, commits and compacts only the rebuilt corpus") {
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft_annidx_stale_fold").toString
    AnnIndexOps.writeIndex(emb.filter(col("vec_id") < 400), dir)
    val dead = col("vec_id").isin(13L, 23L, 33L)
    AnnIndexOps.deleteFromIndex(spark, dir, emb.filter(dead).select("vec_id"))
    IndexLifecycle.crashAt = Some("fold_commit")
    try intercept[IllegalStateException] {
      AnnIndexOps.compactIndex(spark, dir)
    } finally IndexLifecycle.crashAt = None
    // the rebuild applies the three pending deletes to the whole corpus
    AnnIndexOps.rebuildIndex(spark, dir, emb)
    assertOwnsCorpus(dir, emb.filter(!dead))
  }

  test("drift monitor: in-distribution batch reads ~1.0, a shifted batch reads high") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") < 400)
    val dir = Files.createTempDirectory("graft_annidx_drift").toString
    AnnIndexOps.writeIndex(old, dir)
    // in-distribution: the held-out rest of the same corpus
    val inDist = AnnIndexOps.quantizerDrift(spark, dir, emb.filter(col("vec_id") >= 400))
      .filter(col("n_batch") > 0).cache()
    assert(inDist.count() > 0)
    val meanIn = inDist.agg(avg(col("drift_e4"))).collect()(0).getDouble(0)
    assert(meanIn > 2000 && meanIn < 50000,
      s"held-out same-distribution batch must read near 1.0 (e4), got $meanIn")
    // drifted: the same batch shifted off the training manifold
    val shifted = emb.filter(col("vec_id") >= 400)
      .withColumn("embedding", transform(col("embedding"), x => x * 3.0f + 0.5f))
    val drifted = AnnIndexOps.quantizerDrift(spark, dir, shifted)
      .filter(col("n_batch") > 0)
    val meanDrift = drifted.agg(avg(col("drift_e4"))).collect()(0).getDouble(0)
    assert(meanDrift > 2 * meanIn,
      s"a 3x+0.5 affine shift must blow up quantization error: $meanDrift vs $meanIn")
    // census shape: one row per stored posting list, never corpus-sized
    val nCenters = graft.sources.BulkOps.readPath(spark, s"$dir/err_census").count()
    assert(inDist.count() <= nCenters)
    inDist.unpersist()
    // an EMPTY batch (quiet ingest window): every stored list reports
    // n_batch = 0 with null means — never an error, never a dropped row
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val quiet = AnnIndexOps.quantizerDrift(spark, dir, empty).collect()
    assert(quiet.length == nCenters)
    assert(quiet.forall(r => r.getAs[Long]("n_batch") == 0L && r.isNullAt(r.fieldIndex("drift_e4"))))
  }

  test("served plan reads the stored index only — no embeddings scan, probed-list pruning") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_annidx_plan").toString
    val emb = Tables.embeddings(spark, sf)
    AnnIndexOps.writeIndex(emb, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    // the serve's own reads: its eager steps (the queries, the probes,
    // the LUT) and the returned ranking plan
    val (served, eager) = withActionPlans(AnnIndexOps.servedTopK(spark, dir, queries))
    assert(eager.size >= 3, s"expected the serve's three eager collects, saw ${eager.size}")
    val plan = (eager :+ served.queryExecution.executedPlan.toString).mkString("\n")
    assert(!plan.contains("embeddings.parquet"),
      s"served search must not scan the corpus vectors:\n$plan")
    assert(plan.contains("postings") && plan.contains("centroids") &&
      plan.contains("codebook"), s"expected the three index scans:\n$plan")
    // postings are partitioned by center: the probed center set arrives
    // as a STATIC partition filter on the scan (pruning by construction,
    // the servedDupes convention — formerly the optimizer's DPP
    // heuristic), so a probed search reads only the probed lists (the
    // 100-TB read pattern), never the whole corpus
    val postingsScan = plan.linesIterator
      .dropWhile(l => !(l.contains("FileScan") && l.contains("/postings")))
      .take(1).mkString
    val postingsPf = postingsScan.dropWhile(_ != 'P')
      .replaceAll(".*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
    assert(postingsScan.contains("PartitionFilters") && postingsPf.contains("center#") &&
      (postingsPf.contains(" IN ") || postingsPf.contains("INSET") || postingsPf.contains("= ")),
      s"the postings scan must carry the probed-center partition filter:\n$plan")
    // and the answer from this handle matches the fresh chain too
    val fresh = PqOps.ivfPqResidualTrainedTopK(emb)
    assert(served.exceptAll(fresh).count() == 0 && fresh.exceptAll(served).count() == 0)
  }

  test("an index build or rebuild leaves the session's CacheManager entry count as it found it") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") >= 100)
    // the quantizer fit's entries are shared operator entries (every
    // sibling query over the corpus reuses them, released by
    // Caching.release): register them first, so the count isolates the
    // build's own dims and encode
    AnnIndexOps.coarseCentroids(emb).count()
    PqOps.trainedResidualCodebook(emb).count()
    val probe = org.apache.spark.sql.graftbridge.CacheProbe
    val before = probe.entries(spark)
    val dir = Files.createTempDirectory("graft_annidx_entries").toString
    AnnIndexOps.writeIndex(emb, dir)
    assert(probe.entries(spark) == before, "writeIndex must release its dims and encode entries")
    AnnIndexOps.rebuildIndex(spark, dir, emb)
    assert(probe.entries(spark) == before, "rebuildIndex must release its dims and encode entries")
  }
}
