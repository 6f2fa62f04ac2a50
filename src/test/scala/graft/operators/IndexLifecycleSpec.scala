package graft.operators

import graft.SparkSpec
import graft.sources.BulkOps
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Direct protocol-level specs for [[IndexLifecycle]] — the scenarios
  * the per-index suites (DedupIndexSpec / AnnIndexSpec /
  * RetrievalLayoutSpec) exercise only through their own table layouts.
  */
class IndexLifecycleSpec extends SparkSpec {

  /** One-table guarded index fixture: `rows(id, v)` + the sidecar. */
  private def freshIndex(n: Long): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_lifecycle").toString
    IndexLifecycle.beginBuild(spark, dir)
    val initial = (0L until n).toDF("id")
    BulkOps.writePath(initial.withColumn("v", col("id") * 10), SaveMode.Overwrite)
      .save(s"$dir/rows")
    IndexLifecycle.writeIds(spark, dir, "id", initial, n)
    dir
  }

  private def rowsTable(dir: String) =
    IndexLifecycle.GuardedTable("rows", col("id").isNotNull, (fresh: DataFrame) =>
      BulkOps.writePath(fresh.withColumn("v", col("id") * 10), SaveMode.Append)
        .save(s"$dir/rows"))

  test("append probes at the FRESHLY-READ dial: an out-of-band sidecar " +
      "rewrite at a different dial cannot double-write committed ids") {
    val s = spark
    import s.implicits._
    val dir = freshIndex(40) // sizedParts clamps to the 16-dir floor
    // another process rebuilds the sidecar at dial 32 (no memo update —
    // that is the point: this JVM's memo is now stale)
    val rebuilt = (0L until 40L).toDF("id")
      .withColumn("ib", pmod(col("id"), lit(32L)))
    BulkOps.writePath(rebuilt.repartition(col("ib")), SaveMode.Overwrite)
      .partitionBy("ib").save(s"$dir/ids")
    BulkOps.writePath(Seq(32L).toDF("id_parts"), SaveMode.Overwrite)
      .save(s"$dir/ids_meta")
    // a batch mixing committed ids (0..39) and fresh ones (40..49): a
    // probe at the STALE dial 16 would miss every sidecar directory
    // ib >= 16 and re-commit ~half the committed ids
    IndexLifecycle.appendGuarded(spark, dir, "id",
      (0L until 50L).toDF("id"), Seq(rowsTable(dir)))
    val got = BulkOps.readPath(spark, s"$dir/rows")
    assert(got.count() == 50, "committed ids must not re-append")
    assert(got.groupBy("id").count().filter(col("count") > 1).isEmpty,
      "no id may hold duplicate rows after the mixed append")
    // and the fresh ids landed in the sidecar's DELTA segment (appends
    // never fan into the partitioned base — compaction folds them)
    val sidecarBase = BulkOps.readPath(spark, s"$dir/ids")
    assert(sidecarBase.count() == 40, "the partitioned base is untouched by an append")
    val delta = BulkOps.readPath(spark, s"$dir/ids_delta")
    assert(delta.select("id").collect().map(_.getLong(0)).toSet == (40L until 50L).toSet,
      "exactly the fresh ids land in the delta segment")
  }

  test("steady-state appends refresh the file inventory in place — no full re-walk") {
    val s = spark
    import s.implicits._
    val dir = freshIndex(40)
    val before = IndexLifecycle.idsFullListings.get()
    IndexLifecycle.appendGuarded(spark, dir, "id",
      (40L until 60L).toDF("id"), Seq(rowsTable(dir)))
    val afterFirst = IndexLifecycle.idsFullListings.get()
    assert(afterFirst == before + 1,
      "the first append pays exactly one full walk (the memo prime)")
    // the second batch OVERLAPS the first: its committed ids must be
    // visible through the REFRESHED inventory (a refresh that missed the
    // first append's new files would double-write 50..59 here)
    IndexLifecycle.appendGuarded(spark, dir, "id",
      (50L until 80L).toDF("id"), Seq(rowsTable(dir)))
    assert(IndexLifecycle.idsFullListings.get() == afterFirst,
      "a steady-state append must not re-walk the sidecar directory tree")
    val got = BulkOps.readPath(spark, s"$dir/rows")
    assert(got.count() == 80)
    assert(got.groupBy("id").count().filter(col("count") > 1).isEmpty,
      "overlapping appends must not duplicate rows")
  }

  test("a crashed append drops the inventory; redelivery re-walks and converges") {
    val s = spark
    import s.implicits._
    val dir = freshIndex(40)
    IndexLifecycle.appendGuarded(spark, dir, "id",
      (40L until 50L).toDF("id"), Seq(rowsTable(dir)))
    val base = IndexLifecycle.idsFullListings.get()
    // crash AFTER the sidecar commit (step 5), BEFORE the inventory
    // refresh and the marker delete — the window where a kept-but-stale
    // inventory would classify 50..59 as fresh on redelivery
    IndexLifecycle.crashAt = Some("ids")
    try intercept[IllegalStateException] {
      IndexLifecycle.appendGuarded(spark, dir, "id",
        (50L until 60L).toDF("id"), Seq(rowsTable(dir)))
    } finally IndexLifecycle.crashAt = None
    IndexLifecycle.appendGuarded(spark, dir, "id",
      (50L until 60L).toDF("id"), Seq(rowsTable(dir)))
    assert(IndexLifecycle.idsFullListings.get() == base + 1,
      "redelivery after a crash re-walks once (the dropped memo re-primes)")
    val got = BulkOps.readPath(spark, s"$dir/rows")
    assert(got.count() == 60)
    assert(got.groupBy("id").count().filter(col("count") > 1).isEmpty,
      "the redelivered batch must not double-write the crashed append's rows")
  }

  test("two interleaved writers: the second refuses loudly while the lease is live") {
    val s = spark
    import s.implicits._
    val dir = freshIndex(40) // beginBuild took the lease for this JVM's owner
    // a second process arrives mid-lease: its append must refuse, and
    // must refuse BEFORE touching any table
    IndexLifecycle.ownerOverride = Some("intruder@9999#beef")
    try {
      val err = intercept[IllegalStateException] {
        IndexLifecycle.appendGuarded(spark, dir, "id",
          (40L until 50L).toDF("id"), Seq(rowsTable(dir)))
      }
      assert(err.getMessage.contains("leased to"))
    } finally IndexLifecycle.ownerOverride = None
    assert(BulkOps.readPath(spark, s"$dir/rows").count() == 40,
      "a refused writer must not have written anything")
    // the owner itself proceeds normally (renewal)
    IndexLifecycle.appendGuarded(spark, dir, "id",
      (40L until 50L).toDF("id"), Seq(rowsTable(dir)))
    assert(BulkOps.readPath(spark, s"$dir/rows").count() == 50)
  }

  test("a stale (expired) lease is taken over; the old owner then refuses") {
    val s = spark
    import s.implicits._
    val dir = freshIndex(40)
    // self-expire our own lease (renewal with a negative TTL), as a
    // crashed writer's lease would after LeaseTtlMs
    IndexLifecycle.acquireLease(spark, dir, ttlMs = -1L)
    // a NEW process takes the expired lease over and mutates
    IndexLifecycle.ownerOverride = Some("successor@4242#cafe")
    try {
      IndexLifecycle.appendGuarded(spark, dir, "id",
        (40L until 50L).toDF("id"), Seq(rowsTable(dir)))
      assert(BulkOps.readPath(spark, s"$dir/rows").count() == 50,
        "the takeover writer's append must land")
    } finally IndexLifecycle.ownerOverride = None
    // the original owner is now the intruder — refused while live...
    val err = intercept[IllegalStateException] {
      IndexLifecycle.appendGuarded(spark, dir, "id",
        (50L until 60L).toDF("id"), Seq(rowsTable(dir)))
    }
    assert(err.getMessage.contains("leased to successor@4242#cafe"))
    // ...and admitted again once the successor releases
    IndexLifecycle.ownerOverride = Some("successor@4242#cafe")
    try IndexLifecycle.releaseLease(spark, dir)
    finally IndexLifecycle.ownerOverride = None
    IndexLifecycle.appendGuarded(spark, dir, "id",
      (50L until 60L).toDF("id"), Seq(rowsTable(dir)))
    assert(BulkOps.readPath(spark, s"$dir/rows").count() == 60)
  }

  private def rowsSpec = Seq(("rows", Seq.empty[String],
    (df: org.apache.spark.sql.DataFrame) => df))

  /** The delta-segment variant of [[rowsTable]] (the dedup/ANN append
    * shape): batch rows land in `rows_delta`, folded by compaction. */
  private def rowsDeltaTable(dir: String) =
    IndexLifecycle.GuardedTable("rows", col("id").isNotNull, (fresh: DataFrame) =>
      BulkOps.writePath(fresh.withColumn("v", col("id") * 10), SaveMode.Append)
        .save(s"$dir/rows_delta"))

  test("compaction FOLDS delta segments into the partitioned base; serve view unchanged") {
    val s = spark
    import s.implicits._
    val dir = freshIndex(40)
    IndexLifecycle.appendGuarded(spark, dir, "id",
      (40L until 60L).toDF("id"), Seq(rowsDeltaTable(dir)))
    assert(BulkOps.fileExists(spark, s"$dir/ids_delta") &&
      BulkOps.fileExists(spark, s"$dir/rows_delta"), "appends land as delta segments")
    assert(IndexLifecycle.compactTables(spark, dir, "id", rowsSpec),
      "deltas present → the fold must run even without tombstones")
    assert(!BulkOps.fileExists(spark, s"$dir/ids_delta") &&
      !BulkOps.fileExists(spark, s"$dir/rows_delta"), "the fold consumes the segments")
    val rows = BulkOps.readPath(spark, s"$dir/rows")
    assert(rows.count() == 60 &&
      rows.groupBy("id").count().filter(col("count") > 1).isEmpty)
    val ids = BulkOps.readPath(spark, s"$dir/ids")
    assert(ids.count() == 60)
    assert(ids.filter(col("ib") =!= pmod(col("id"), lit(16L))).isEmpty,
      "folded sidecar rows bucket at the stored dial")
    // post-fold probe classifies through the refolded base
    IndexLifecycle.appendGuarded(spark, dir, "id",
      (50L until 70L).toDF("id"), Seq(rowsDeltaTable(dir)))
    val all = graft.TestTables.fullTable(spark, dir, "rows", Seq("id"))
    assert(all.count() == 70 &&
      all.groupBy("id").count().filter(col("count") > 1).isEmpty,
      "the post-fold probe must still skip folded ids")
    assert(!IndexLifecycle.compactTables(spark, dir, "id", rowsSpec) ||
      BulkOps.readPath(spark, s"$dir/rows").count() == 70)
  }

  test("fold crash windows roll FORWARD; a late tombstone survives the recovery") {
    val s = spark
    import s.implicits._
    val dir = freshIndex(40)
    IndexLifecycle.appendGuarded(spark, dir, "id",
      (40L until 60L).toDF("id"), Seq(rowsDeltaTable(dir)))
    // crash right after the journal lands: nothing consumed yet
    IndexLifecycle.crashAt = Some("fold_commit")
    try intercept[IllegalStateException] {
      IndexLifecycle.compactTables(spark, dir, "id", rowsSpec)
    } finally IndexLifecycle.crashAt = None
    assert(BulkOps.fileExists(spark, s"$dir/fold_commit"))
    // appends REFUSE while the journal is pending (recovery will consume
    // exactly the journaled files — new segments must not land beside them)
    val refused = intercept[IllegalArgumentException] {
      IndexLifecycle.appendGuarded(spark, dir, "id",
        (60L until 65L).toDF("id"), Seq(rowsDeltaTable(dir)))
    }
    assert(refused.getMessage.contains("crashed maintenance"))
    // a lock-free tombstone arrives AFTER the journal — it must survive
    BulkOps.writePath(Seq(41L).toDF("id"), SaveMode.Append).save(s"$dir/tombstones")
    // the next compaction entry rolls the crashed fold forward, then a
    // fresh pass applies the late tombstone
    assert(IndexLifecycle.compactTables(spark, dir, "id", rowsSpec),
      "the late tombstone gives the post-recovery pass work to do")
    assert(!BulkOps.fileExists(spark, s"$dir/fold_commit"))
    val rows = BulkOps.readPath(spark, s"$dir/rows")
    assert(rows.count() == 59, "60 folded rows minus the late tombstone")
    assert(rows.filter(col("id") === 41L).isEmpty)
    assert(BulkOps.readPath(spark, s"$dir/ids").count() == 59)
    // and every mid-consumption crash window converges the same way
    Seq("fold_delta_rows", "fold_swap_rows", "fold_delta_ids", "fold_swap_ids")
      .foreach { step =>
        val d2 = freshIndex(40)
        IndexLifecycle.appendGuarded(spark, d2, "id",
          (40L until 60L).toDF("id"), Seq(rowsDeltaTable(d2)))
        IndexLifecycle.crashAt = Some(step)
        try intercept[IllegalStateException] {
          IndexLifecycle.compactTables(spark, d2, "id", rowsSpec)
        } finally IndexLifecycle.crashAt = None
        // recovery at the next entry; nothing further to fold → false
        assert(!IndexLifecycle.compactTables(spark, d2, "id", rowsSpec),
          s"crash at '$step': recovery leaves nothing to fold")
        val r2 = BulkOps.readPath(spark, s"$d2/rows")
        assert(r2.count() == 60 &&
          r2.groupBy("id").count().filter(col("count") > 1).isEmpty,
          s"crash at '$step': the folded base must hold each row exactly once")
        assert(BulkOps.readPath(spark, s"$d2/ids").count() == 60,
          s"crash at '$step': the folded sidecar must hold each id exactly once")
      }
  }

  test("pristine immutability: a full gate+delete+compact cycle on a " +
      "hardlinked copy never rewrites a shared parquet inode") {
    val s = spark
    import s.implicits._
    val docs = (0L until 30L)
      .map(i => (i, s"alpha beta gamma delta epsilon tok$i zeta eta theta"))
      .toDF("doc_id", "text")
    val pristine = Files.createTempDirectory("graft_pristine").toString
    DedupIndexOps.writeIndex(docs, pristine)
    val work = Files.createTempDirectory("graft_work").toString
    graft.contract.IndexFixtures.resetFromPristine(spark, pristine, work)
    def parquetFiles(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val walk = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .toIndexedSeq
      } finally walk.close()
    }
    val snap = parquetFiles(java.nio.file.Paths.get(pristine))
      .map(p => p -> Files.readAllBytes(p).toSeq).toMap
    assert(snap.nonEmpty, "the pristine index must hold parquet files")
    // the scenario under guard must actually exist: at least one pristine
    // file shares its inode with the work copy (the hardlink path ran)
    assert(snap.keys.exists(p =>
      Files.getAttribute(p, "unix:nlink").asInstanceOf[Number].intValue > 1),
      "resetFromPristine did not hardlink — the invariant scenario is absent")
    // mutate the WORK copy through the full lifecycle: gate (serve +
    // survivor append), tombstone delete, major compaction (fold + swap)
    val batch = (100L until 110L)
      .map(i => (i, s"alpha beta gamma delta epsilon tok${i % 3} zeta eta theta"))
      .toDF("doc_id", "text")
    DedupIndexOps.gateAndIngest(spark, work, batch)
    DedupIndexOps.deleteFromIndex(spark, work, Seq(5L).toDF("doc_id"))
    DedupIndexOps.compactIndex(spark, work)
    // the invariant (IndexLifecycle scaladoc): no lifecycle op rewrites a
    // parquet inode in place, so every pristine byte is untouched
    snap.foreach { case (p, bytes) =>
      assert(Files.exists(p), s"pristine file $p vanished")
      assert(Files.readAllBytes(p).toSeq == bytes,
        s"pristine file $p was rewritten in place — a lifecycle op broke " +
          "the parquet-inode-immutability invariant the hardlink reset relies on")
    }
  }

  test("compaction writes one file per partition directory, fold after fold") {
    val s = spark
    import s.implicits._
    def doc(i: Long) = (i, s"alpha$i beta$i gamma$i delta$i epsilon$i")
    val dir = Files.createTempDirectory("graft_fold_files").toString
    DedupIndexOps.writeIndex((0L until 200L).map(doc).toDF("doc_id", "text"), dir)
    (1 to 3).foreach { cycle =>
      val base = 1000L * cycle
      DedupIndexOps.appendToIndex(spark, dir, (base until base + 50L).map(doc).toDF("doc_id", "text"))
      DedupIndexOps.deleteFromIndex(spark, dir, Seq(cycle.toLong, base).toDF("doc_id"))
      assert(DedupIndexOps.compactIndex(spark, dir), s"fold $cycle must run")
    }
    Seq("mins" -> "mb=", "sigs" -> "pb=", "ids" -> "ib=").foreach { case (table, prefix) =>
      val parts = new java.io.File(s"$dir/$table").listFiles().filter(_.getName.startsWith(prefix))
      assert(parts.nonEmpty, s"$table must be partitioned by $prefix")
      val counts = parts.map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-")))
      assert(counts.forall(_._2 == 1),
        s"every $table directory must hold exactly one data file: ${counts.filter(_._2 != 1).toSeq}")
    }
  }

  test("writeIds refuses an empty id set loudly") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_lifecycle_empty").toString
    val err = intercept[IllegalArgumentException] {
      IndexLifecycle.writeIds(spark, dir, "id",
        Seq.empty[Long].toDF("id"), 0L)
    }
    assert(err.getMessage.contains("empty id set"))
    assert(!BulkOps.fileExists(spark, s"$dir/ids"),
      "a refused write must leave nothing behind")
  }
}
