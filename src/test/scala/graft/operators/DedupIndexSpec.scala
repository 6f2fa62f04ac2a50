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
    // the default fold (minor here: a seventh of the corpus is under the
    // masked-share rule) clears the log and serves the same rows
    assert(DedupIndexOps.compactIndex(spark, dir), "tombstones present → compaction must run")
    assert(!graft.sources.BulkOps.fileExists(spark, s"$dir/tombstones"),
      "compaction clears the log")
    val folded = DedupIndexOps.servedDupes(spark, dir, batch)
    assert(masked.exceptAll(folded).count() == 0 && folded.exceptAll(masked).count() == 0,
      "the default fold must not change a single served row")
    // major compaction: physical drop on BOTH tables, log cleared, serve unchanged
    DedupIndexOps.majorCompactIndex(spark, dir)
    assert(!graft.sources.BulkOps.fileExists(spark, s"$dir/tombstones") &&
      !graft.sources.BulkOps.fileExists(spark, s"$dir/${IndexLifecycle.BaseMask}"),
      "the major fold clears both logs")
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
    assert(eager.size >= 2, s"expected the serve's two eager actions, saw ${eager.size}")
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

  private def tmp(tag: String) = Files.createTempDirectory(s"graft_dedupidx_$tag").toString

  private def served(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def verdicts(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))).toSet

  /** Every parquet file under `dir/table`, for "the base is untouched". */
  private def filesOf(dir: String, table: String): Set[String] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir, table))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
    } finally walk.close()
  }

  test("tiered-fold differential: after every append, delete, minor and major fold, " +
      "serves and gate verdicts equal a fresh build over the live docs") {
    val all = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val probe = batchOf(all.filter(_._1 < 100).toSeq.sortBy(_._1))
    val (initial, rest) = all.keys.filter(_ >= 100).toSeq.sorted.partition(_ % 2 == 0)
    val chunk1 = rest.take(rest.size / 4)
    val chunk2 = rest.slice(rest.size / 4, rest.size / 2)
    // a re-ingested doc's new text: a probe doc's, so the probe finds it
    // at est 10⁴ — a stale base row of the old text would push it past
    val twinText = all.filter(_._1 < 100).toSeq.sortBy(_._1)
      .map(_._2).find(_.split("\\s+").length >= 8).get
    val live = scala.collection.mutable.Map.empty[Long, String]
    val dir = tmp("tiered")
    def check(step: String): Unit = {
      val fresh = tmp("tiered_fresh")
      DedupIndexOps.writeIndex(batchOf(live.toSeq), fresh)
      val got = served(DedupIndexOps.servedDupes(spark, dir, probe))
      assert(got == served(DedupIndexOps.servedDupes(spark, fresh, probe)),
        s"after $step: the serve must equal a fresh build over the live docs")
      assert(got.forall(_._3 <= 10000), s"after $step: an estimate passed 10⁴: $got")
      // the gate appends to its index: gate a hardlinked copy
      val copy = tmp("tiered_copy")
      graft.contract.IndexFixtures.resetFromPristine(spark, dir, copy)
      assert(verdicts(DedupIndexOps.gateAndIngest(spark, copy, probe)) ==
        verdicts(DedupIndexOps.gateAndIngest(spark, fresh, probe)),
        s"after $step: gate verdicts must equal a fresh build's")
    }
    def append(rows: Seq[(Long, String)]): Unit = {
      DedupIndexOps.appendToIndex(spark, dir, batchOf(rows))
      live ++= rows
    }
    def delete(ids: Seq[Long]): Unit = {
      DedupIndexOps.deleteFromIndex(spark, dir, batchOf(ids.map(_ -> "")).select("doc_id"))
      live --= ids
    }
    DedupIndexOps.writeIndex(batchOf(initial.map(i => i -> all(i))), dir)
    live ++= initial.map(i => i -> all(i))
    check("the build")
    append(chunk1.map(i => i -> all(i)))
    check("an append")
    val reborn = initial.head
    delete(Seq(reborn, initial(3), initial(5), chunk1.head, chunk1(2)))
    check("a delete of base and delta docs")
    val baseFiles = Seq("mins", "sigs", "ids").map(t => t -> filesOf(dir, t)).toMap
    assert(DedupIndexOps.compactIndex(spark, dir))
    assert(graft.sources.BulkOps.fileExists(spark, s"$dir/${IndexLifecycle.BaseMask}"),
      "a small delta and few deletes take the minor fold")
    baseFiles.foreach { case (t, fs) =>
      assert(filesOf(dir, t) == fs, s"the minor fold must leave the $t base untouched") }
    check("a minor fold")
    // deleted, minor-folded, re-ingested with new text
    append(Seq(reborn -> twinText))
    check("a re-ingest of a minor-folded delete")
    assert(served(DedupIndexOps.servedDupes(spark, dir, probe)).exists(_._2 == reborn),
      "the re-ingested doc serves through its new text")
    append(chunk2.map(i => i -> all(i)))
    delete(Seq(initial(7), chunk1(4), chunk2.head))
    check("a second append and delete")
    assert(DedupIndexOps.compactIndex(spark, dir))
    check("a second minor fold")
    assert(DedupIndexOps.majorCompactIndex(spark, dir))
    assert(!graft.sources.BulkOps.fileExists(spark, s"$dir/${IndexLifecycle.BaseMask}"))
    check("a major fold")
    // after the major fold: re-ingest a purged delete, delete the reborn doc
    append(Seq(initial(3) -> all(initial(3))))
    delete(Seq(reborn))
    assert(DedupIndexOps.compactIndex(spark, dir))
    check("a fold after the major fold")
  }

  /** An index with a base, two delta segments and tombstones on both:
    * the minor fold's input. Returns (dir, the live ids). */
  private def minorFoldFixture(tag: String): (String, Set[Long]) = {
    val dir = tmp(tag)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).filter(_ >= 100).sorted
    val (base, rest) = ids.partition(_ % 2 == 0)
    DedupIndexOps.writeIndex(docs.filter(col("doc_id").isin(base.toSeq: _*)), dir)
    DedupIndexOps.appendToIndex(spark, dir, docs.filter(col("doc_id").isin(rest.take(20).toSeq: _*)))
    DedupIndexOps.appendToIndex(spark, dir, docs.filter(col("doc_id").isin(rest.slice(20, 40).toSeq: _*)))
    val dead = Seq(base(1), base(2), rest(0), rest(25))
    DedupIndexOps.deleteFromIndex(spark, dir, batchOf(dead.map(_ -> "")).select("doc_id"))
    (dir, (base ++ rest.take(40)).toSet -- dead)
  }

  private def committed(dir: String, ids: Set[Long]): Set[Long] =
    IndexLifecycle.committedProbe(spark, dir, "doc_id",
      batchOf(ids.toSeq.map(_ -> "")).select("doc_id")).collect().map(_.getLong(0)).toSet

  Seq("fold_minor_stage", "fold_minor_commit", "fold_minor_delta_mins",
      "fold_minor_delta_sigs", "fold_minor_delta_ids", "fold_minor_mask").foreach { step =>
    test(s"minor fold crash at '$step': recovery serves the pre-crash answer") {
      val batch = docs.filter(col("doc_id") < 100)
      val (dir, liveIds) = minorFoldFixture(s"minor_$step")
      val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
      val expect = served(DedupIndexOps.servedDupes(spark, dir, batch))
      IndexLifecycle.crashAt = Some(step)
      try intercept[IllegalStateException] {
        DedupIndexOps.compactIndex(spark, dir)
      } finally IndexLifecycle.crashAt = None
      val journaled = step != "fold_minor_stage"
      assert(graft.sources.BulkOps.fileExists(spark, s"$dir/fold_commit") == journaled)
      if (journaled) {
        // appends refuse while the journal is pending (the fold_commit guard)
        val refused = intercept[IllegalArgumentException] {
          DedupIndexOps.appendToIndex(spark, dir, batch.filter(col("doc_id") === 1))
        }
        assert(refused.getMessage.contains("crashed maintenance"))
      }
      DedupIndexOps.compactIndex(spark, dir) // recovery, then any fold left to run
      assert(served(DedupIndexOps.servedDupes(spark, dir, batch)) == expect,
        s"crash at '$step': the recovered serve must equal the pre-crash answer")
      assert(!graft.sources.BulkOps.fileExists(spark, s"$dir/fold_commit") &&
        !graft.sources.BulkOps.fileExists(spark, s"$dir/tombstones") &&
        Seq("mins", "sigs", "ids").forall(t =>
          !graft.sources.BulkOps.fileExists(spark, s"$dir/${t}_delta_fold")),
        s"crash at '$step': recovery leaves no journal, tombstone or staged segment")
      assert(committed(dir, allIds) == liveIds,
        s"crash at '$step': the sidecar must commit exactly the live ids")
      Seq(("mins", Seq("doc_id", "k")), ("sigs", Seq("doc_id", "band"))).foreach { case (t, key) =>
        assert(graft.TestTables.fullTable(spark, dir, t, key)
          .groupBy(key.map(col): _*).count().filter(col("count") > 1).isEmpty,
          s"crash at '$step': the $t base ∪ delta must hold each row once")
      }
    }
  }

  test("major fold crash between the tombstone and base-mask purges rolls forward") {
    val batch = docs.filter(col("doc_id") < 100)
    val (dir, liveIds) = minorFoldFixture("major_logs")
    assert(DedupIndexOps.compactIndex(spark, dir))
    assert(graft.sources.BulkOps.fileExists(spark, s"$dir/${IndexLifecycle.BaseMask}"))
    val more = liveIds.toSeq.sorted.take(2)
    DedupIndexOps.deleteFromIndex(spark, dir, batchOf(more.map(_ -> "")).select("doc_id"))
    val expect = served(DedupIndexOps.servedDupes(spark, dir, batch))
    IndexLifecycle.crashAt = Some("fold_tombstones")
    try intercept[IllegalStateException] {
      DedupIndexOps.majorCompactIndex(spark, dir)
    } finally IndexLifecycle.crashAt = None
    assert(graft.sources.BulkOps.fileExists(spark, s"$dir/fold_commit"))
    intercept[IllegalArgumentException] {
      DedupIndexOps.appendToIndex(spark, dir, batch.filter(col("doc_id") === 1))
    }
    assert(!DedupIndexOps.compactIndex(spark, dir), "recovery leaves nothing to fold")
    assert(served(DedupIndexOps.servedDupes(spark, dir, batch)) == expect)
    assert(!graft.sources.BulkOps.fileExists(spark, s"$dir/${IndexLifecycle.BaseMask}") &&
      !graft.sources.BulkOps.fileExists(spark, s"$dir/tombstones"))
    assert(committed(dir, docs.select("doc_id").collect().map(_.getLong(0)).toSet) ==
      liveIds -- more)
  }

  test("a fresh build over a major fold's stale journal serves, commits and folds only the new corpus") {
    val batch = docs.filter(col("doc_id") < 100)
    val (dir, _) = minorFoldFixture("stale_fold_journal")
    IndexLifecycle.crashAt = Some("fold_commit")
    try intercept[IllegalStateException] {
      DedupIndexOps.majorCompactIndex(spark, dir)
    } finally IndexLifecycle.crashAt = None
    assert(graft.sources.BulkOps.fileExists(spark, s"$dir/fold_commit"))
    // another corpus built into the same dir: the crashed fold's journal
    // and staged copies belong to the index this build replaces
    val corpus = docs.filter(col("doc_id") >= 100 && col("doc_id") % 3 === 0)
    val ids = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    DedupIndexOps.writeIndex(corpus, dir)
    val ref = tmp("stale_fold_ref")
    DedupIndexOps.writeIndex(corpus, ref)
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = served(DedupIndexOps.servedDupes(spark, ref, batch))
    assert(served(DedupIndexOps.servedDupes(spark, dir, batch)) == expect,
      "the new build must serve exactly a fresh build of its corpus")
    assert(committed(dir, allIds) == ids, "the sidecar must commit exactly the new corpus")
    // a redelivery is accepted (no journal left to refuse it) and appends nothing
    DedupIndexOps.appendToIndex(spark, dir, corpus.filter(col("doc_id") < 200))
    assert(!DedupIndexOps.compactIndex(spark, dir), "nothing of the old index is left to fold")
    assert(served(DedupIndexOps.servedDupes(spark, dir, batch)) == expect &&
      committed(dir, allIds) == ids, "the following fold must change nothing")
  }

  test("a fold that would empty the index is refused before its journal, no staged copy left") {
    val rows = (0L until 30L).map(i => (i, s"alpha$i beta$i gamma$i delta$i epsilon$i"))
    val dir = tmp("empty_fold")
    DedupIndexOps.writeIndex(batchOf(rows), dir)
    DedupIndexOps.deleteFromIndex(spark, dir, batchOf(rows).select("doc_id"))
    val err = intercept[IllegalArgumentException](DedupIndexOps.compactIndex(spark, dir))
    assert(err.getMessage.contains("would empty"))
    assert(!graft.sources.BulkOps.fileExists(spark, s"$dir/fold_commit") &&
      Seq("mins", "sigs", "ids").forall(t =>
        !graft.sources.BulkOps.fileExists(spark, s"$dir/${t}_compact")),
      "the refusal must leave no journal and no compacted copy")
    assert(DedupIndexOps.servedDupes(spark, dir, batchOf(rows.take(3))).count() == 0,
      "the refused index still serves, every doc masked")
  }

  test("the batch pb set computed on the driver equals the Spark expression") {
    val wide = DedupOps.batchMinhashWide(docs, DedupOps.MinhashK)
    val rows = wide.collect().toSeq
    assert(rows.nonEmpty)
    Seq(32, 64, 1024, 4096).foreach { parts =>
      val meta = DedupIndexOps.IndexMeta(DedupOps.MinhashK, DedupOps.BandSize, parts, 16)
      val spark0 = DedupOps.bandedFromWide(wide, DedupOps.MinhashK, DedupOps.BandSize)
        .select(pmod(crc32(col("sig")), lit(parts.toLong)))
        .collect().map(_.getLong(0).toInt).toSet
      assert(DedupIndexOps.batchBuckets(rows, meta).toSet == spark0, s"at $parts buckets")
    }
  }

  test("an index build leaves the session's CacheManager entry count as it found it") {
    val probe = org.apache.spark.sql.graftbridge.CacheProbe
    val before = probe.entries(spark)
    DedupIndexOps.writeIndex(docs.filter(col("doc_id") >= 100), tmp("build_entries"))
    assert(probe.entries(spark) == before, "writeIndex must release its wide minima entry")
  }
}
