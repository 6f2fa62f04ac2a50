package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The persisted dedup-signature-index contract: append is additive,
  * deletes mask-then-compact without changing a served row, the index is
  * self-describing, and a serve reads stored tables only — never the
  * corpus text. */
class DedupIndexSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  private def batchOf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("append INTO the stored index: serving after the ingest equals a rebuild over the union") {
    val corpus = docs.filter(col("doc_id") >= 100)
    val batch = docs.filter(col("doc_id") < 100)
    val dirA = Files.createTempDirectory("graft_dedupidx_a").toString
    DedupIndexOps.writeIndex(corpus.filter(col("doc_id") % 2 === 0), dirA)
    DedupIndexOps.appendToIndex(spark, dirA, corpus.filter(col("doc_id") % 2 === 1))
    val dirB = Files.createTempDirectory("graft_dedupidx_b").toString
    DedupIndexOps.writeIndex(corpus, dirB)
    val a = DedupIndexOps.servedDupes(spark, dirA, batch)
    val b = DedupIndexOps.servedDupes(spark, dirB, batch)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "appended index must serve exactly what a full-build index serves")
    assert(b.count() > 0, "fixture batch must collide with the corpus somewhere")
  }

  test("append is idempotent under redelivery: re-ingested doc_ids are skipped, estimates stay ≤ 10⁴") {
    val corpus = docs.filter(col("doc_id") >= 100)
    val batch = docs.filter(col("doc_id") < 100)
    val dir = Files.createTempDirectory("graft_dedupidx_redeliver").toString
    DedupIndexOps.writeIndex(corpus, dir)
    val expect = DedupIndexOps.servedDupes(spark, dir, batch).collect().toSet
    // an at-least-once pipeline redelivers a slice of the INDEXED corpus
    // (and a fully-redelivered batch appends nothing — the empty-append
    // path must not corrupt the partitioned table)
    DedupIndexOps.appendToIndex(spark, dir, corpus.filter(col("doc_id") % 5 === 0))
    DedupIndexOps.appendToIndex(spark, dir, corpus)
    val mins = graft.TestTables.fullTable(spark, dir, "mins", Seq("doc_id", "k"))
    assert(mins.groupBy("doc_id", "k").count().filter(col("count") > 1).count() == 0,
      "a redelivered doc must not write a second signature set")
    val afterDf = DedupIndexOps.servedDupes(spark, dir, batch).cache()
    assert(afterDf.filter(col("est_e4") > 10000).count() == 0,
      "agreement can never exceed the permutation count")
    assert(afterDf.collect().toSet == expect,
      "redelivery must not change a single served row")
    afterDf.unpersist()
  }

  test("TORN append self-heals: a crash at EVERY protocol step converges after one redelivery") {
    import graft.sources.BulkOps
    val corpus = docs.filter(col("doc_id") >= 100)
    val batch = docs.filter(col("doc_id") < 100)
    // reference: the same append on an untorn index
    val ref = Files.createTempDirectory("graft_dedupidx_tornref").toString
    DedupIndexOps.writeIndex(corpus, ref)
    DedupIndexOps.appendToIndex(spark, ref, batch)
    // crash windows, in protocol order: after the pending marker, after
    // the mins write (sigs never lands — the torn state serves must
    // never see a candidate from), after the sigs write (the sidecar
    // commit never runs), after the sidecar append (the marker stays)
    Seq("pending", "mins", "sigs", "ids").foreach { step =>
      val dir = Files.createTempDirectory(s"graft_dedupidx_torn_$step").toString
      DedupIndexOps.writeIndex(corpus, dir)
      IndexLifecycle.crashAt = Some(step)
      try intercept[IllegalStateException] {
        DedupIndexOps.appendToIndex(spark, dir, batch)
      } finally IndexLifecycle.crashAt = None
      // mins-before-sigs: whatever the crash step, a serve between crash
      // and redelivery must never report a half-appended doc (a doc
      // without banded rows cannot become a candidate)
      val midServe = DedupIndexOps.servedDupes(spark, dir,
        docs.filter(col("doc_id") < 100 && col("doc_id") % 2 === 0))
      val sigDocs = graft.TestTables.fullTable(spark, dir, "sigs", Seq("doc_id")).distinct()
      assert(midServe.join(sigDocs, midServe("dup_of") === sigDocs("doc_id"), "left_anti")
        .count() == 0,
        s"crash at '$step': a serve may only match docs whose sigs landed")
      // the at-least-once redelivery completes exactly the missing writes
      DedupIndexOps.appendToIndex(spark, dir, batch)
      Seq(("sigs", Seq("doc_id", "band", "sig")), ("mins", Seq("doc_id", "k", "mh")))
        .foreach { case (t, cols) =>
          val a = graft.TestTables.fullTable(spark, dir, t, cols)
          val b = graft.TestTables.fullTable(spark, ref, t, cols)
          assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
            s"healed $t after a crash at '$step' must equal the untorn append exactly")
        }
      assert(graft.TestTables.fullTable(spark, dir, "sigs", Seq("doc_id", "band"))
        .groupBy("doc_id", "band").count().filter(col("count") > 1).count() == 0,
        s"crash at '$step': the redelivery must not duplicate a signature row")
      assert(graft.TestTables.fullTable(spark, dir, "mins", Seq("doc_id", "k"))
        .groupBy("doc_id", "k").count().filter(col("count") > 1).count() == 0,
        s"crash at '$step': the redelivery must not duplicate a minima row")
      // protocol state converged: the crashed attempt's marker is gone
      val leftover = new java.io.File(s"$dir/pending")
      assert(!leftover.exists() || leftover.listFiles().forall(_.getName.startsWith("_")),
        s"crash at '$step': one redelivery must resolve every pending marker")
      // and the healed index serves exactly what the untorn one serves
      val a = DedupIndexOps.servedDupes(spark, dir, docs.filter(col("doc_id") < 50))
      val b = DedupIndexOps.servedDupes(spark, ref, docs.filter(col("doc_id") < 50))
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"crash at '$step': healed serve must equal the untorn serve")
    }
  }

  test("delete: tombstone-masked serve ≡ survivor rebuild; compaction changes nothing, drops rows") {
    val corpus = docs.filter(col("doc_id") >= 100)
    val batch = docs.filter(col("doc_id") < 100)
    val deadPred = col("doc_id") % 7 === 3
    val dir = Files.createTempDirectory("graft_dedupidx_del").toString
    DedupIndexOps.writeIndex(corpus, dir)
    DedupIndexOps.deleteFromIndex(spark, dir, corpus.filter(deadPred).select("doc_id"))
    val masked = DedupIndexOps.servedDupes(spark, dir, batch).cache()
    assert(masked.filter(col("dup_of") % 7 === 3).count() == 0,
      "no tombstoned doc may be reported as a duplicate target")
    val dirB = Files.createTempDirectory("graft_dedupidx_delb").toString
    DedupIndexOps.writeIndex(corpus.filter(!deadPred), dirB)
    val rebuilt = DedupIndexOps.servedDupes(spark, dirB, batch)
    assert(masked.exceptAll(rebuilt).count() == 0 && rebuilt.exceptAll(masked).count() == 0,
      "tombstone mask must serve exactly the survivor-built index")
    // major compaction: physical drop on BOTH tables, log cleared, serve unchanged
    assert(DedupIndexOps.compactIndex(spark, dir), "tombstones present → compaction must run")
    assert(!graft.sources.BulkOps.fileExists(spark, s"$dir/tombstones"),
      "compaction clears the log")
    val compacted = DedupIndexOps.servedDupes(spark, dir, batch)
    assert(masked.exceptAll(compacted).count() == 0 && compacted.exceptAll(masked).count() == 0,
      "compaction must not change a single served row")
    Seq("sigs", "mins").foreach { t =>
      assert(graft.sources.BulkOps.readPath(spark, s"$dir/$t")
        .filter(col("doc_id") % 7 === 3).count() == 0,
        s"compaction physically drops tombstoned rows from $t")
    }
    assert(!DedupIndexOps.compactIndex(spark, dir), "nothing to compact → no-op")
    masked.unpersist()
  }

  test("compaction crash window: mid-swap sigs table recovers and serves the same answer") {
    import graft.sources.BulkOps
    val corpus = docs.filter(col("doc_id") >= 100)
    val batch = docs.filter(col("doc_id") < 100)
    val dir = Files.createTempDirectory("graft_dedupidx_crash").toString
    DedupIndexOps.writeIndex(corpus, dir)
    DedupIndexOps.deleteFromIndex(spark, dir,
      corpus.filter(col("doc_id") % 7 === 3).select("doc_id"))
    val expect = DedupIndexOps.servedDupes(spark, dir, batch).collect().toSet
    // crash AFTER the live sigs moved aside, BEFORE the compacted copy
    // landed → the next lifecycle call must roll back, serve unchanged
    assert(BulkOps.renamePath(spark, s"$dir/sigs", s"$dir/sigs_old"))
    assert(DedupIndexOps.compactIndex(spark, dir), "recovery preamble + compaction must run")
    assert(DedupIndexOps.servedDupes(spark, dir, batch).collect().toSet == expect,
      "post-recovery compacted serve must equal the pre-crash masked serve")
  }

  test("the index is self-describing: a 24/3 index appends and serves at 24/3") {
    val corpus = docs.filter(col("doc_id") >= 100 && col("doc_id") % 2 === 0)
    val dir = Files.createTempDirectory("graft_dedupidx_meta").toString
    DedupIndexOps.writeIndex(corpus, dir, numPerms = 24, bandSize = 3)
    DedupIndexOps.appendToIndex(spark, dir,
      docs.filter(col("doc_id") >= 100 && col("doc_id") % 2 === 1))
    val mins = graft.TestTables.fullTable(spark, dir, "mins", Seq("doc_id", "k"))
    assert(mins.select(max(col("k"))).head().getLong(0) == 23,
      "append must signature at the STORED dial, not the default")
    assert(mins.groupBy("doc_id").count().filter(col("count") =!= 24).count() == 0)
    // a doc identical to an indexed one estimates 24/24 agreement
    val twin = docs.filter(col("doc_id") === 100).select("text").head().getString(0)
    val got = DedupIndexOps.servedDupes(spark, dir, batchOf(Seq((900001L, twin))))
    assert(got.filter(col("dup_of") === 100 && col("est_e4") === 10000).count() == 1,
      "an exact twin must agree on all 24 permutations")
  }

  test("served plan reads stored tables only: no corpus text scan, pb partitions pruned") {
    val dir = Files.createTempDirectory("graft_dedupidx_plan").toString
    DedupIndexOps.writeIndex(docs.filter(col("doc_id") >= 100), dir)
    DedupIndexOps.deleteFromIndex(spark, dir,
      docs.filter(col("doc_id") === 101).select("doc_id"))
    // the batch arrives as app input (a local frame) — with the corpus
    // indexed, NOTHING in the serve plan may touch documents.parquet
    val twin = docs.filter(col("doc_id") === 100).select("text").head().getString(0)
    // the serve's own reads: its eager steps (the batch signatures, the
    // bucket set, the candidate list) and the returned agreement plan
    val (served, eager) = withActionPlans(DedupIndexOps.servedDupes(spark, dir,
      batchOf(Seq((900001L, twin), (900002L, "too short")))))
    assert(eager.size >= 3, s"expected the serve's three eager actions, saw ${eager.size}")
    val plan = (eager :+ served.queryExecution.executedPlan.toString).mkString("\n")
    assert(!plan.contains("documents.parquet"),
      s"a served dedup must never re-shingle the corpus:\n$plan")
    assert(plan.contains("sigs") && plan.contains("mins"),
      s"expected the two index scans:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"the tombstone mask must be an anti-join:\n$plan")
    // the batch's bucket set arrives as a STATIC partition filter on the
    // sigs scan — pruning is by construction, not an optimizer heuristic
    val sigsScan = plan.linesIterator
      .dropWhile(l => !(l.contains("FileScan") && l.contains("/sigs")))
      .take(1).mkString
    assert(sigsScan.contains("PartitionFilters") &&
      (sigsScan.contains("pb#") && (sigsScan.contains(" IN ") || sigsScan.contains("INSET"))),
      s"the sigs scan must carry the batch-bucket partition filter:\n$plan")
    // the CANDIDATE docs' bucket set prunes the mins scan the same way —
    // the agreement stage reads candidate-doc directories, never the
    // whole signature store (the r11 weak-shape fix, plan-gated)
    val minsScan = plan.linesIterator
      .dropWhile(l => !(l.contains("FileScan") && l.contains("/mins")))
      .take(1).mkString
    // (a single-bucket candidate set folds `In` to an equality — both
    // forms are the same static prune)
    val minsPf = minsScan.dropWhile(_ != 'P')
      .replaceAll(".*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
    assert(minsScan.contains("PartitionFilters") && minsPf.contains("mb#") &&
      (minsPf.contains(" IN ") || minsPf.contains("INSET") || minsPf.contains("= ")),
      s"the mins scan must carry the candidate-bucket partition filter:\n$plan")
    // and the twin is found through the pruned read
    assert(served.filter(col("dup_of") === 100 && col("est_e4") === 10000).count() == 1)
  }

  test("append guard is sidecar-pruned: a steady-state append never scans the data tables") {
    val corpus = docs.filter(col("doc_id") >= 100)
    val dir = Files.createTempDirectory("graft_dedupidx_guardplan").toString
    DedupIndexOps.writeIndex(corpus.filter(col("doc_id") % 2 === 0), dir)
    // audit the reads an append issues: with no crash evidence the guard
    // must probe the ids sidecar (ib-pruned) and read NOTHING ELSE of
    // the stored index — the r11 per-batch band=0/k=0 slice scans are
    // exactly what this pins down as gone
    val audited = graft.sources.BulkOps.recordReads {
      DedupIndexOps.appendToIndex(spark, dir, corpus.filter(col("doc_id") % 2 === 1))
    }
    val storedReads = audited.filter(p => p.startsWith(dir))
    assert(storedReads.exists(_.contains("/ids")), s"guard must probe the sidecar: $storedReads")
    assert(!storedReads.exists(p => p.endsWith("/sigs") || p.endsWith("/mins")),
      s"steady-state append must not read a data table: $storedReads")
  }

  test("guards: empty corpus refused, empty/short batches serve empty") {
    val dir = Files.createTempDirectory("graft_dedupidx_guard").toString
    intercept[IllegalArgumentException] {
      DedupIndexOps.writeIndex(batchOf(Seq.empty), dir)
    }
    intercept[IllegalArgumentException] {
      // every doc below shingle width → no signable docs
      DedupIndexOps.writeIndex(batchOf(Seq((1L, "a b"), (2L, "x"))), dir)
    }
    val dir2 = Files.createTempDirectory("graft_dedupidx_guard2").toString
    DedupIndexOps.writeIndex(docs.filter(col("doc_id") >= 100), dir2)
    assert(DedupIndexOps.servedDupes(spark, dir2, batchOf(Seq.empty)).count() == 0)
    assert(DedupIndexOps.servedDupes(spark, dir2,
      batchOf(Seq((1L, "a b")))).count() == 0,
      "a sub-shingle doc has no signature and cannot match")
  }
}
