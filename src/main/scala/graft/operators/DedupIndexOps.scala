package graft.operators

import graft.sources.{BulkOps, Tables}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED MinHash signature index — write-then-serve for the
  * dedup family, completing the stored-index lifecycle the engine
  * already gives ANN ([[AnnIndexOps]]) and BM25
  * ([[RetrievalOps.bm25WriteIndex]]): at 100 TB you cannot re-shingle
  * the corpus per ingest batch, so the per-doc MinHash signatures are
  * computed ONCE, written through the bulk seam, and every arriving
  * batch dedups against the STORED signatures with the corpus text
  * untouched (the signature store [[DedupOps.incrNearDup]]'s scaladoc
  * prices at 16 bytes/doc, made durable; cf. the reference's
  * write-then-serve derived-state precedent,
  * api/meta/TechnicalMeta.java:167-186, and its delete-then-compact
  * lifecycle, api/compactor/CompactionTask.java:44-73).
  *
  * Artifacts under `dir`:
  *   - `mins` (doc_id, k, mh, mb): the slim per-permutation minima the
  *     similarity ESTIMATE reads, PARTITIONED BY
  *     `mb` = doc_id mod `mins_parts` — a serve reads only the
  *     directories its CANDIDATE docs hash into (the candidate set is
  *     bounded by bucketCap × batch bands, so its distinct `mb` set is a
  *     bounded static In partition filter, plan-gated). Written FIRST on
  *     every mutation: a torn append that landed `mins` but not `sigs`
  *     is structurally invisible to serves (a doc without banded rows
  *     can never become a candidate).
  *   - `sigs` (band, sig, doc_id, pb): the banded LSH layout, written
  *     PARTITIONED BY `pb` = crc32(sig) mod `bucket_parts` — a serve
  *     probes only the partitions its batch's signatures hash into
  *     (a static In partition filter, the posting-list read pattern).
  *     `bucket_parts` is a SIZED dial (~[[SigRowsPerPart]] banded rows
  *     per directory, up to 4096), so a small batch's distinct-pb set is
  *     a real fraction of the index, not a vacuous ceiling; a batch
  *     large enough to hash into every bucket reads the whole sigs
  *     table, which is then genuinely its working set.
  *   - `meta` (num_perms, band_size, bucket_parts, mins_parts): the
  *     index is self-describing — serves and appends read the dials from
  *     the index, so an index written at 24/3 cannot be silently probed
  *     at 12/3. Mutation paths re-read the stored row (never trusting
  *     the per-JVM memo), so a dir rewritten at a different dial by
  *     another process cannot corrupt an append.
  *   - `ids` + `ids_meta` + `pending`: the [[IndexLifecycle]] membership
  *     sidecar and append protocol (idempotence under redelivery,
  *     crash-safe torn-append healing) — shared with the ANN and BM25
  *     indexes.
  *
  * Serve semantics: candidates collide on a stored (band, sig) bucket
  * (buckets over `bucketCap` members dropped whole — the
  * [[DedupOps.capBuckets]] guard, recounted at serve over exactly the
  * pruned read, which is exact per present bucket because `pb` is a
  * function of `sig`); similarity is the SIGNATURE-AGREEMENT estimate
  * est_e4 = |{k : mh_new[k] = mh_stored[k]}| · 10⁴ / K — at serve time
  * there is no corpus text to verify exact Jaccard against, which is
  * precisely the stored-signature trade (documented deviation from
  * [[DedupOps.minhashLsh]]'s exact-verify; E[est] = Jaccard).
  */
object DedupIndexOps {

  /** Banded rows per `sigs` bucket directory — the `bucket_parts`
    * sizing target. */
  val SigRowsPerPart = 1024L

  /** Minima rows per `mins` directory — the `mins_parts` sizing
    * target. */
  val MinRowsPerPart = 4096L

  /** The stored dial row: (numPerms, bandSize, bucketParts, minsParts). */
  final case class IndexMeta(numPerms: Int, bandSize: Int, bucketParts: Int, minsParts: Int)

  private[operators] def bandedWithPb(wide: DataFrame, meta: IndexMeta,
      carry: Seq[String] = Nil): DataFrame =
    DedupOps.bandedFromWide(wide, meta.numPerms, meta.bandSize, carry)
      .withColumn("pb", pmod(crc32(col("sig")), lit(meta.bucketParts.toLong)))

  private def slimFromWide(wide: DataFrame, numPerms: Int): DataFrame = {
    val kms = (0 until numPerms).map(k =>
      struct(lit(k.toLong).as("k"), col(s"mh$k").as("mh")))
    wide
      .select(col("doc_id"), explode(array(kms: _*)).as("km"))
      .select(col("doc_id"), col("km.k").as("k"), col("km.mh").as("mh"))
  }

  private[operators] def slimWithMb(wide: DataFrame, meta: IndexMeta): DataFrame =
    slimFromWide(wide, meta.numPerms)
      .withColumn("mb", pmod(col("doc_id"), lit(meta.minsParts.toLong)))

  /** Write the signature index for `docs` under `dir`: one corpus
    * aggregation feeds both artifacts (the wide minima frame is cached —
    * the banded and slim writes are its only two consumers). Docs
    * shorter than a shingle (< 3 tokens) have no signature and are
    * absent, exactly as they are invisible to [[DedupOps.minhashLsh]] —
    * they still COMMIT to the ids sidecar (the index is the authority on
    * ids), so a redelivered sub-shingle doc is skipped, not retried.
    * A fresh build invalidates any tombstone log and pending protocol
    * state from the dir's past life (the [[AnnIndexOps.writeIndex]]
    * discipline). */
  def writeIndex(docs: DataFrame, dir: String,
      numPerms: Int = DedupOps.MinhashK, bandSize: Int = DedupOps.BandSize): Unit = {
    require(numPerms > 0 && bandSize > 0 && numPerms % bandSize == 0,
      s"numPerms ($numPerms) must be a positive multiple of bandSize ($bandSize)")
    val spark = docs.sparkSession
    // single-writer from the FIRST table write of the build, not just
    // from the sidecar onward (writeIds renews the same lease)
    IndexLifecycle.acquireLease(spark, dir)
    val wide = graft.Caching.maybeCache(
      DedupOps.minhashWide(DedupOps.shinglePostings(docs), numPerms))
    // the doc count sizes both partition dials (one aggregate over the
    // cached build frame — build-time cost, paid once per index life).
    // A partitioned write of zero rows produces a directory no reader
    // can infer a schema from — an empty corpus is "no index", refused
    // loudly rather than materialized unreadably.
    val n = wide.count()
    require(n > 0,
      s"writeIndex: no signable docs (every doc < 3 tokens?) — refusing to write an empty index at $dir")
    val bands = numPerms / bandSize
    val meta = IndexMeta(numPerms, bandSize,
      IndexLifecycle.sizedParts(n * bands, SigRowsPerPart, 32, 4096),
      IndexLifecycle.sizedParts(n * numPerms, MinRowsPerPart, 16, 4096))
    // mins first (the torn-order contract), each clustered by its
    // partition value before the write so file count tracks directory
    // count instead of tasks × directories
    BulkOps.writePath(slimWithMb(wide, meta).repartition(col("mb")), SaveMode.Overwrite)
      .partitionBy("mb").save(s"$dir/mins")
    BulkOps.writePath(bandedWithPb(wide, meta).repartition(col("pb")), SaveMode.Overwrite)
      .partitionBy("pb").save(s"$dir/sigs")
    import spark.implicits._
    BulkOps.writePath(
        Seq((numPerms.toLong, bandSize.toLong, meta.bucketParts.toLong, meta.minsParts.toLong))
          .toDF("num_perms", "band_size", "bucket_parts", "mins_parts"),
        SaveMode.Overwrite)
      .save(s"$dir/meta")
    metaMemo.put(dir, meta)
    // a fresh build supersedes delta segments from the dir's past life
    Seq("mins_delta", "sigs_delta").foreach { d =>
      if (BulkOps.fileExists(spark, s"$dir/$d"))
        BulkOps.deletePath(spark, s"$dir/$d")
    }
    // the sidecar commits EVERY doc id (unsignable docs too — the index
    // is the authority on ids, so their redelivery skips), so its dial
    // sizes from the FULL doc count, not the signable count
    IndexLifecycle.writeIds(spark, dir, "doc_id", docs.select("doc_id"), docs.count())
    if (BulkOps.fileExists(spark, s"$dir/tombstones"))
      BulkOps.deletePath(spark, s"$dir/tombstones")
  }

  // the dial row per index dir, read once per JVM for SERVES; mutation
  // paths ([[appendToIndex]], [[compactIndex]]) re-read the stored row
  // and re-prime, so a stale memo can never corrupt the index — it can
  // only mis-probe a serve in a multi-process deployment that rewrites
  // dirs out-of-band (call [[clearIndexMemo]] there; see DEPLOY.md).
  private val metaMemo = new java.util.concurrent.ConcurrentHashMap[String, IndexMeta]()

  private def loadMeta(spark: SparkSession, dir: String): IndexMeta = {
    val r = BulkOps.readPath(spark, s"$dir/meta")
      .select("num_perms", "band_size", "bucket_parts", "mins_parts").head()
    IndexMeta(r.getLong(0).toInt, r.getLong(1).toInt,
      r.getLong(2).toInt, r.getLong(3).toInt)
  }

  private[operators] def readMetaFresh(spark: SparkSession, dir: String): IndexMeta = {
    val m = loadMeta(spark, dir)
    metaMemo.put(dir, m)
    m
  }

  private def readMeta(spark: SparkSession, dir: String): IndexMeta =
    // loadMeta, not readMetaFresh: a put() for the same key inside
    // computeIfAbsent deadlocks the map ("recursive update")
    metaMemo.computeIfAbsent(dir, _ => loadMeta(spark, dir))

  /** Ingest INTO the stored index: signature the new batch with the
    * STORED dial (re-read from the index, not the memo — a mutation must
    * never trust a possibly-stale JVM cache) and append to both tables —
    * per-doc signatures are row-independent by construction, so the
    * appended index is bit-identical to a full rebuild over the union
    * (the [[AnnIndexOps.appendToIndex]] equality, which for signatures
    * is exact rather than quantizer-relative). New rows land inside
    * their `mb`/`pb` directories; existing files untouched.
    *
    * IDEMPOTENT under redelivery and crash-safe under torn multi-table
    * writes via the [[IndexLifecycle]] protocol: already-committed
    * doc_ids skip (duplicate mins rows would double agreement counts and
    * push est_e4 past 10⁴), the steady-state guard is one ib-pruned
    * sidecar probe (O(batch directories), never a corpus-sized slice),
    * and after a crash the suspect ids — and only those — check each
    * table's one-row slice so the table that landed skips and the table
    * that didn't catches up. `mins` writes before `sigs`, so the only
    * observable torn state is mins-without-sigs, which no serve can see.
    * The index is the authority on ids: a redelivered id with DIFFERENT
    * text is still skipped, and a tombstoned id stays skipped until
    * [[compactIndex]] physically drops it — re-ingesting a deleted doc
    * requires compacting first. */
  def appendToIndex(spark: SparkSession, dir: String, newDocs: DataFrame,
      knownIds: Option[Seq[Long]] = None): Unit = {
    val meta = graft.tools.Prof("dedup-append:meta")(readMetaFresh(spark, dir))
    // one batch signature pass feeds both table writes (each filtered
    // to the protocol's fresh-id frame)
    val wide = graft.Caching.maybeCache(DedupOps.batchMinhashWide(newDocs, meta.numPerms))
    appendWide(spark, dir, knownIds.toLeft(newDocs.select("doc_id")), meta, fresh =>
      wide.join(broadcast(fresh), Seq("doc_id"), "left_semi")
        // one file per segment (a bounded batch's rows — the shuffle
        // partitioning would write 32 shards of a few KB)
        .repartition(1))
  }

  /** The table-write half of [[appendToIndex]] and [[gateAndIngest]]:
    * `freshWide` maps the protocol's fresh-id frame to those ids'
    * signature rows at `meta`'s dials, in ONE partition (one file per
    * delta segment). */
  private def appendWide(spark: SparkSession, dir: String,
      batchIds: Either[Seq[Long], DataFrame], meta: IndexMeta,
      freshWide: DataFrame => DataFrame): Unit = {
    // appends land as DELTA SEGMENTS (one small file set per batch into
    // `<table>_delta`), NOT as a per-batch fan-out into the partitioned
    // tree: writing one tiny file per touched mb/pb directory measured
    // ~11 ms/dir at local[32] (7.5 s per 200-doc batch at the 100×
    // index) and is the small-files explosion at a 100-TB ingest
    // cadence. mb/pb ride along as data columns so serves prune the
    // delta with the same predicates; compaction folds segments in.
    val tables = Seq(
      IndexLifecycle.GuardedTable("mins", col("k") === 0, fresh =>
        BulkOps.writePath(slimWithMb(freshWide(fresh), meta), SaveMode.Append)
          .save(s"$dir/mins_delta"),
        mutates = Seq("mins_delta")),
      IndexLifecycle.GuardedTable("sigs", col("band") === 0, fresh =>
        BulkOps.writePath(bandedWithPb(freshWide(fresh), meta), SaveMode.Append)
          .save(s"$dir/sigs_delta"),
        mutates = Seq("sigs_delta")))
    batchIds match {
      case Left(ids) => IndexLifecycle.appendGuardedSeq(spark, dir, "doc_id", ids, tables)
      case Right(df) => IndexLifecycle.appendGuarded(spark, dir, "doc_id", df, tables)
    }
  }

  /** `rows`, collected from `df`, as a LOCAL frame: a driver-resident
    * relation that later plans read without recomputing `df`, holding no
    * CacheManager entry and no executor blocks (so an executor loss can
    * never fail a read of it). For bounded frames only. */
  private def localFrame(df: DataFrame, rows: Array[Row]): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)

  private def collectLocal(df: DataFrame): DataFrame = localFrame(df, df.collect())

  /** Dedup an arriving batch against the STORED index: returns
    * (doc_id, dup_of, est_e4) — batch docs whose estimated Jaccard
    * against some indexed doc reaches `thresholdE4`, with the stored
    * doc they collide with. Batch-internal duplicates are NOT reported
    * (the [[DedupOps.incrNearDup]] contract: the index is the dedup
    * authority, the batch dedups against it).
    *
    * BOUNDED-BATCH CONTRACT: `batch` is app input of ingest size. Its
    * pb set and its candidate list are materialized once per serve; the
    * candidate list is bounded by bucketCap × batch bands pairs, each
    * carrying the batch doc's K minima. `cacheBatch = true` caches the
    * batch signatures (read by the probe and the agreement join) and
    * pins the candidate list with [[graft.Caching.pinForConsistency]].
    * `cacheBatch = false` (the streaming posture) registers no cache
    * entry: the candidate list is collected into a local frame on the
    * driver (≈ pairs × (K+2) × 8 B), a local snapshot that an executor
    * loss cannot take away — tasks over it re-run instead of failing.
    *
    * Read shape at 100 TB — BOTH index reads are partition-pruned by
    * bounded app materializations (plan-gated):
    *   - `sigs`: the batch's distinct `pb` set (≤ its banded-row count,
    *     ≤ bucket_parts) pushes as a STATIC In filter on the partition
    *     column, so the scan reads the batch's bucket directories — a
    *     real fraction of the sized dial for an ingest-sized batch.
    *   - `mins`: the CANDIDATE doc set (bounded by bucketCap × batch
    *     bands — the cap guard, not an optimizer estimate) yields a
    *     bounded distinct `mb` set, pushed the same way; the broadcast
    *     candidate list prunes rows inside the read directories. The
    *     agreement stage therefore reads candidate-doc signatures, not
    *     the corpus's.
    * The corpus is never re-shingled, its text never read.
    *
    * Tombstone mask ([[deleteFromIndex]] log, if any) lands on the
    * PRUNED sigs read — above the partition pruning, below the bucket
    * recount, so a masked serve is EXACTLY the survivor-index answer
    * (deleted docs neither produce candidates nor inflate a bucket
    * toward the cap — not a stale-stats approximation). */
  def servedDupes(spark: SparkSession, dir: String, batch: DataFrame,
      thresholdE4: Long = 5000L, bucketCap: Long = DedupOps.MaxBandBucket,
      cacheBatch: Boolean = true): DataFrame = {
    val meta = readMeta(spark, dir)
    val wide0 = DedupOps.batchMinhashWide(batch, meta.numPerms)
    if (cacheBatch)
      serveCore(spark, dir, meta, graft.Caching.maybeCache(wide0), thresholdE4, bucketCap,
        graft.Caching.pinForConsistency)
    else serveCore(spark, dir, meta, wide0, thresholdE4, bucketCap, collectLocal)
  }

  /** The serve shared by [[servedDupes]] and [[gateAndIngest]]: `wideB`
    * is the batch's signature frame (doc_id, mh0..mh{K-1}) at `meta`'s
    * dials; `pin` materializes the bounded candidate pair list exactly
    * once, because the agreement stage reads it twice (the mb partition
    * probe and the broadcast join) and each recompute would re-run the
    * pruned sigs scan underneath it. Returns
    * the lazy agreement plan (doc_id, dup_of, est_e4). */
  private def serveCore(spark: SparkSession, dir: String, meta: IndexMeta,
      wideB: DataFrame, thresholdE4: Long, bucketCap: Long,
      pin: DataFrame => DataFrame): DataFrame = {
    // each banded batch row carries its doc's minima, so the candidate
    // pairs bring them to the agreement stage
    val bBanded = bandedWithPb(
      wideB.withColumn("mh_new", array((0 until meta.numPerms).map(k => col(s"mh$k")): _*)),
      meta, carry = Seq("mh_new"))

    // STATIC partition pruning, guaranteed by construction: the batch's
    // pb set is a bounded app materialization (deduplicated on the
    // driver — no aggregation job) — pushed as an In filter on the RAW
    // partition column (before any cast, so it reaches the scan's
    // PartitionFilters; plan-gated), rather than left to the optimizer's
    // DPP cost heuristic. An empty batch prunes everything.
    val pbs = bBanded.select("pb").collect().map(_.getLong(0).toInt).distinct.toSeq
    // Base ∪ delta: appended batches live in `sigs_delta` segments until
    // compaction folds them; the same pb filter prunes the base's
    // directories and the delta's row groups (pb is a data column there)
    val stored0 = IndexLifecycle.tableWithDelta(spark, dir, "sigs")(df =>
      df.filter(col("pb").isin(pbs: _*)).select("band", "sig", "doc_id"))
    val storedMasked = tombstonesOpt(spark, dir)
      .fold(stored0)(t => stored0.join(broadcast(t), Seq("doc_id"), "left_anti"))
    val stored = storedMasked.select(col("band"), col("sig"), col("doc_id").as("dup_of"))

    // probe: the batch bucket keys, broadcast into a SEMI-join — a key
    // shared by several batch docs must not multiply the stored rows
    // the cap recount below counts. Keyed on (band, sig) alone: pb is a
    // function of sig, and keeping it out of the key keeps the pushed
    // pb filter off the broadcast side, so the join the optimizer pushes
    // into each union branch reuses ONE broadcast
    val pruned = stored.join(broadcast(bBanded.select("band", "sig")),
      Seq("band", "sig"), "left_semi")
    // serve-side bucket recount over exactly the pruned read: pb is a
    // function of sig, so every (band, sig) group present is WHOLE and
    // its count equals the full-index count — the cap is exact
    val capped = DedupOps.capBuckets(pruned, Seq("band", "sig"), bucketCap)
    val cand = pin(capped
      .join(broadcast(bBanded.select("band", "sig", "doc_id", "mh_new")), Seq("band", "sig"))
      // never match a doc to itself: in the incremental contract batch
      // and index are id-disjoint, but a crash-rerun batch (whose
      // survivors the previous attempt already appended) must not report
      // every doc as its own duplicate
      .filter(col("doc_id") =!= col("dup_of"))
      .select(col("doc_id"), col("dup_of"), col("mh_new"))
      .distinct())

    // agreement estimate from the stored slim signatures: K rows per
    // candidate doc. The candidate docs' mb set (bounded by the capped
    // candidate count) prunes the mins read to their directories; the
    // broadcast candidate list prunes rows within them.
    val mbs = cand.select(pmod(col("dup_of"), lit(meta.minsParts.toLong)))
      .collect().map(_.getLong(0).toInt).distinct.toSeq
    IndexLifecycle.tableWithDelta(spark, dir, "mins")(df =>
      df.filter(col("mb").isin(mbs: _*))
        .select(col("doc_id").as("dup_of"), col("k"), col("mh").as("mh_old")))
      .join(broadcast(cand), Seq("dup_of"))
      .groupBy("doc_id", "dup_of")
      .agg(sum(when(col("mh_old") === element_at(col("mh_new"), col("k").cast("int") + 1), 1L)
        .otherwise(0L)).as("agree"))
      .withColumn("est_e4", expr(s"agree * 10000 DIV ${meta.numPerms}"))
      .filter(col("est_e4") >= thresholdE4)
      .select(col("doc_id"), col("dup_of"), col("est_e4"))
  }

  /** Within-batch duplicate pairs (doc_id, dup_of, est_e4) under the SAME
    * signature semantics as the stored-index serve, computed on the
    * driver from the batch's collected minima: banded collision (a
    * bucket is a band and its minima — the equality the stored `sig`
    * string encodes), buckets over `bucketCap` members dropped,
    * agreement estimate ≥ threshold, oriented larger id → smaller id. */
  private def batchDupes(sigs: Seq[(Long, Array[Long])], bandSize: Int,
      thresholdE4: Long, bucketCap: Long): Seq[(Long, Long, Long)] = {
    val byId = sigs.toMap
    val pairs = sigs
      .flatMap { case (id, mh) =>
        mh.grouped(bandSize).zipWithIndex.map { case (s, b) => ((b, s.toSeq), id) } }
      .groupMap(_._1)(_._2).values
      .filter(_.size <= bucketCap)
      .flatMap(ids => for (a <- ids; b <- ids if a > b) yield (a, b))
      .toSet
    pairs.toSeq.map { case (a, b) =>
      val (x, y) = (byId(a), byId(b))
      (a, b, x.indices.count(k => x(k) == y(k)) * 10000L / x.length)
    }.filter(_._3 >= thresholdE4)
  }

  /** Each doc's best match among (doc_id, dup_of, est_e4) pairs: highest
    * est, then smallest dup_of. */
  private def bestMatch(pairs: Seq[(Long, Long, Long)]): Map[Long, (Long, Long)] =
    pairs.groupBy(_._1).map { case (d, ps) =>
      d -> ps.map(p => (p._2, p._3)).minBy { case (dup, est) => (-est, dup) } }

  private val ReportSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT NOT NULL, verdict STRING NOT NULL, dup_of BIGINT, est_e4 BIGINT")

  /** The GATE-AND-INGEST composition — what a continuous ingest pipeline
    * actually runs per batch: every arriving doc is deduped against the
    * STORED index (the [[servedDupes]] serve) and against its own
    * batch-mates (same signature semantics, oriented toward the smaller
    * id), the survivors are APPENDED to the index, and a complete
    * per-doc report returns: `(doc_id, verdict, dup_of, est_e4)` with
    * verdict ∈ {dup_index, dup_batch, unsignable, ingested} — index
    * dups win over batch dups; within a class the best match is
    * (highest est, then smallest dup_of). The batch rule is greedy
    * pairwise: a doc with ANY smaller-id batch dup is dropped, even when
    * that smaller doc was itself dropped as an index dup (the documented
    * keep-first rule — cluster-exact keep is [[GraphOps.dedupKeep]]'s
    * job, offline).
    *
    * BOUNDED-BATCH CONTRACT: the batch side is computed ONCE and kept on
    * the driver. One Spark pass derives the batch's signature frame
    * (doc_id, mh0..mh{K-1}) and collects it — driver memory ≈ rows ×
    * (K+1) × 8 B — and every batch-side consumer reads that local frame:
    * the serve's probe keys and agreement minima, the within-batch
    * dups, the signable mask and the survivor append's two table
    * writes. The candidate pairs, the index dups and the report are
    * collected too, so the gate registers NO cache entry and takes no
    * `localCheckpoint`: its intermediate frames are local snapshots on
    * the driver, and an executor loss re-runs the affected tasks from
    * them instead of failing the read.
    *
    * The report is complete BEFORE the append: a local frame has no
    * lineage into the index, so nothing can re-serve it against an
    * index that now contains the batch. Crash-rerun safe end-to-end:
    * the append skips already-committed ids, and the serve never
    * matches a doc to itself. */
  def gateAndIngest(spark: SparkSession, dir: String, batch: DataFrame,
      thresholdE4: Long = 5000L, bucketCap: Long = DedupOps.MaxBandBucket): DataFrame = {
    val meta = readMeta(spark, dir)
    val docs = batch.select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val wide0 = DedupOps.batchMinhashWide(docs, meta.numPerms)
    val wideRows = graft.tools.Prof("gate:signatures")(wide0.collect())
    val wide = localFrame(wide0, wideRows)
    val idx = graft.tools.Prof("gate:serve")(bestMatch(
      serveCore(spark, dir, meta, wide, thresholdE4, bucketCap, collectLocal)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq))
    val intra = bestMatch(batchDupes(
      wideRows.map(r => r.getLong(0) -> Array.tabulate(meta.numPerms)(k => r.getLong(k + 1))).toSeq,
      meta.bandSize, thresholdE4, bucketCap))
    // a doc below shingle width has NO signature: it cannot match, and
    // the append cannot index it — its verdict says so honestly instead
    // of claiming "ingested" for a doc the index will never hold
    val signable = wideRows.map(_.getLong(0)).toSet
    val verdicts = ids.map { id =>
      idx.get(id).map(m => ("dup_index", Some(m)))
        .orElse(intra.get(id).map(m => ("dup_batch", Some(m))))
        .getOrElse((if (signable(id)) "ingested" else "unsignable", None))
    }
    val report = spark.createDataFrame(java.util.Arrays.asList(ids.zip(verdicts).map {
      case (id, (verdict, m)) => Row(id, verdict,
        m.map(x => java.lang.Long.valueOf(x._1)).orNull,
        m.map(x => java.lang.Long.valueOf(x._2)).orNull)
    }: _*), ReportSchema)
    // survivor append from the gate's OWN signature rows, filtered on the
    // driver to the protocol's fresh ids (a local frame — no re-shingling,
    // no broadcast join)
    appendWide(spark, dir,
      Left(ids.zip(verdicts).collect { case (id, ("ingested", _)) => id }.toSeq), meta,
      fresh => wide.filter(col("doc_id").isInCollection(fresh.collect().map(_.getLong(0))))
        .coalesce(1))
    report
  }

  /** Delete documents from the stored index — the HBase-delete shape
    * shared with [[AnnIndexOps.deleteFromIndex]]: an O(|ids|) tombstone
    * append, a serve-time broadcast mask, physical removal at the next
    * [[compactIndex]]. */
  def deleteFromIndex(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    BulkOps.writePath(ids.select(col("doc_id").cast("long")), SaveMode.Append)
      .save(s"$dir/tombstones")

  private def tombstonesOpt(spark: SparkSession, dir: String): Option[DataFrame] =
    // file-based (a fold consumes exactly its journaled tombstone FILES,
    // which can leave a file-less dir no reader could infer schema from)
    IndexLifecycle.flatLogOpt(spark, dir, "tombstones").map(_.select("doc_id"))

  /** Major compaction: rewrite `mins` and `sigs` (each keeping its
    * partitioning, so pruned serves are unchanged after the swap) and
    * the ids sidecar minus the tombstoned docs, swap each in crash-safely
    * ([[IndexLifecycle.swapCompacted]] — rename aside, rename in, every
    * step checked), clear the log. Serve results are identical before
    * and after (mask and drop remove the same rows — the differential
    * DedupIndexSpec pins). Returns false on no-op. */
  def compactIndex(spark: SparkSession, dir: String): Boolean = {
    readMetaFresh(spark, dir) // re-prime the dial memo while we hold the mutation
    IndexLifecycle.compactTables(spark, dir, "doc_id", Seq(
      ("mins", Seq("mb"), df => df.withColumn("mb", col("mb").cast("long"))),
      ("sigs", Seq("pb"), df => df.withColumn("pb", col("pb").cast("long")))))
  }

  // ---- fixture chains (driver-contract queries) --------------------

  /** Fixture split: ~90% of docs are "the indexed corpus", the stable
    * md5 10% bucket is "the arriving batch" — the
    * [[RetrievalOps.bm25IngestTopK]] production shape (large stored
    * corpus, small batch), on the [[CurationOps.splitAssign]] hash. */
  private[graft] val ServeBucketPct = 10L

  private[graft] def batchPred = graft.functions.TextFunctions.stableHash60(
    col("doc_id").cast("string")) % 100L < ServeBucketPct

  /** Drop the per-JVM stored-index memos (fixture dirs — the shared
    * [[graft.tools.IndexScratch.memoizedDir]] lifecycle — AND the
    * per-dir dial rows). */
  def clearIndexMemo(): Unit = {
    graft.tools.IndexScratch.clearMemo("graft_dedupidx")
    metaMemo.clear()
    IndexLifecycle.clearIdsMemo()
  }

  private def memoizedDir(spark: SparkSession, prefix: String, sfDir: String)
      (build: String => Unit): String =
    graft.tools.IndexScratch.memoizedDir(spark, prefix, sfDir)(build)

  /** The `dedup_served` fixture chain: index the 90% corpus once into a
    * temp dir (memoized under the cache lifecycle), then dedup the 10%
    * batch against the stored signatures. */
  def dedupServed(spark: SparkSession, sfDir: String,
      thresholdE4: Long = 5000L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = memoizedDir(spark, "graft_dedupidx", sfDir)(d =>
      writeIndex(docs.filter(!batchPred), d))
    servedDupes(spark, dir, docs.filter(batchPred), thresholdE4)
  }

  /** The serve-only batch is CAPPED to a fixed id range: the scaling
    * claim is "a fixed-size ingest batch against a GROWING index", so
    * the batch must not grow with the corpus the way [[batchPred]]'s
    * 10% bucket does (a corpus-proportional batch would re-measure the
    * batch's own signature cost, the `dedup_served` family's job). The
    * cap yields ~200 docs — a streaming-trigger-sized micro-batch whose
    * ~800 band-signatures probe a real MINORITY of the (≤4096) bucket
    * directories; a 2000-doc batch already hashes into ~86% of them,
    * at which point the read is honestly the batch's working set. */
  private[graft] val ServeOnlyIdCap = 2000L

  /** The SERVE-ONLY twin of [[dedupServed]]: same serve semantics (the
    * oracle is the served chain over the capped batch), but the index
    * builds through [[graft.tools.IndexScratch.prebuiltDir]] — memoized
    * even in the no-cache ScaleBench posture — and the batch is the
    * FIXED-SIZE id-capped slice of the 10% bucket, so a min-of-passes
    * measurement times what an ingest pipeline actually pays per batch
    * at 100 TB: one bounded batch signatured + the candidate-pruned
    * index reads, with the index 100× larger and the batch unchanged.
    * The `dedup_served` family keeps measuring the full
    * build-write-serve cycle with the corpus-proportional batch. */
  def dedupServeOnly(spark: SparkSession, sfDir: String,
      thresholdE4: Long = 5000L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = graft.tools.IndexScratch.prebuiltDir(spark, "graft_dedupidx_so", sfDir)(d =>
      writeIndex(docs.filter(!batchPred), d))
    // the batch arrives as BOUNDED APP INPUT, the production contract —
    // an ingest pipeline hands the engine its batch, it does not filter
    // the corpus per serve. The fixture therefore extracts its ≤~200-doc
    // micro-batch ONCE per corpus (a deliberate driver materialization,
    // the AnnIndexOps.fixtureQueries convention) instead of re-scanning
    // the text table inside every timed serve.
    val rows = serveOnlyBatch(spark, sfDir)
    import spark.implicits._
    servedDupes(spark, dir, rows.toDF("doc_id", "text"), thresholdE4)
  }

  private val serveOnlyBatchMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, String)]]()

  /** The `dedup_served_ing` fixture chain — the APPEND path end-to-end:
    * index half the corpus, append the other half through
    * [[appendToIndex]], serve the batch. Per-doc signatures are
    * row-independent, so the result must equal [[dedupServed]]'s
    * exactly — same DuckDB oracle BY DESIGN (the bm25_ingest
    * convention). */
  def dedupIngestServed(spark: SparkSession, sfDir: String,
      thresholdE4: Long = 5000L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(!batchPred)
    val half = graft.functions.TextFunctions.stableHash60(
      concat(lit("ing|"), col("doc_id").cast("string"))) % 100L < 50L
    val dir = memoizedDir(spark, "graft_dedupidx_ing", sfDir) { d =>
      writeIndex(corpus.filter(half), d)
      appendToIndex(spark, d, corpus.filter(!half))
      // a HALF-CORPUS append leaves a half-corpus delta segment; the
      // production cadence after a bulk append is a fold (serve results
      // identical before and after — this chain's oracle pins that),
      // which returns the serve to fully-pruned partitioned reads
      compactIndex(spark, d)
    }
    servedDupes(spark, dir, docs.filter(batchPred), thresholdE4)
  }

  /** The `dedup_gate` fixture chain — [[gateAndIngest]] end-to-end.
    * Deterministic per call WITHOUT a per-call rebuild: the gate mutates
    * its index (that is its job), so a memoized dir would hand call 2 an
    * index already containing call 1's survivors. Instead the PRISTINE
    * corpus index builds once under the memo lifecycle and each call
    * file-copies it into the working dir
    * ([[graft.tools.IndexScratch.resetFromPristine]]) — call N always
    * gates against exactly the corpus index, at file-copy cost. With
    * caching off (ScaleBench) the pristine build itself reruns per call,
    * so scale runs keep measuring the full build-gate-append cycle. */
  def dedupGateReport(spark: SparkSession, sfDir: String,
      thresholdE4: Long = 5000L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val pristine = memoizedDir(spark, "graft_dedupidx_gatep", sfDir)(d =>
      writeIndex(docs.filter(!batchPred), d))
    val work = graft.tools.IndexScratch.scratchFor("graft_dedupidx_gatew", sfDir)
    graft.tools.Prof("gate:reset-copy")(
      graft.tools.IndexScratch.resetFromPristine(spark, pristine, work))
    gateAndIngest(spark, work, docs.filter(batchPred), thresholdE4)
  }

  /** The APPEND-ONLY twin of [[dedupIngestServed]]: the index is
    * prebuilt once ([[graft.tools.IndexScratch.prebuiltDir]] — outside
    * every timer, even in the no-cache ScaleBench posture) and each call
    * appends the FIXED capped batch under fresh ids (pass-offset by
    * [[graft.tools.IndexScratch.AppendIdBase]]), so a min-of-passes
    * measurement times exactly what a 100-TB ingest cadence pays per
    * batch: one bounded batch signatured + the guarded-append protocol
    * (inventory-pruned sidecar probe, marker, two table appends, sidecar
    * commit, in-place inventory refresh) against a 100×-larger index.
    * The returned frame is the VERIFICATION read-back — the batch's ids
    * probed back out of the sidecar ([[IndexLifecycle.committedProbe]]),
    * mapped to their original ids; an append that lost ids shrinks it. */
  def dedupAppendOnly(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = graft.tools.Prof("dedup_ao:prebuilt")(
      graft.tools.IndexScratch.prebuiltDir(spark, "graft_dedupidx_ao", sfDir)(d =>
        writeIndex(docs.filter(!batchPred), d)))
    val base = graft.tools.IndexScratch.AppendIdBase
    val pass = graft.tools.IndexScratch.passNumber(s"dedup_ao|$sfDir")
    val rows = graft.tools.Prof("dedup_ao:batch")(serveOnlyBatch(spark, sfDir))
    import spark.implicits._
    val batch = rows.map { case (id, text) => (id + base * pass, text) }
      .toDF("doc_id", "text")
    graft.tools.Prof("dedup_ao:append")(appendToIndex(spark, dir, batch,
      knownIds = Some(rows.map(_._1 + base * pass))))
    graft.tools.Prof("dedup_ao:probe-plan")(
      IndexLifecycle.committedProbe(spark, dir, "doc_id", batch.select("doc_id"))
        .select((col("doc_id") % base).as("doc_id")))
  }

  /** The MARGINAL-COST twin of [[dedupGateReport]] (which deliberately
    * rebuilds + file-copies a pristine index per call, so its ScaleBench
    * family measures the full build-gate-append cycle): here the corpus
    * index is prebuilt ONCE and each call gates a fixed-size batch whose
    * ids are pass-offset AND whose tokens are pass-suffixed — fresh ids,
    * content disjoint from the corpus and from every earlier pass's
    * survivors, with the batch's own internal duplicate structure
    * preserved (a shared suffix cannot create or destroy within-batch
    * shingle equality). A min-of-passes measurement therefore times
    * gate + survivor-append alone — the steady-state ingest cadence —
    * against an index that never needs resetting. */
  def dedupGateOnly(spark: SparkSession, sfDir: String,
      thresholdE4: Long = 5000L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = graft.tools.IndexScratch.prebuiltDir(spark, "graft_dedupidx_go", sfDir)(d =>
      writeIndex(docs.filter(!batchPred), d))
    val base = graft.tools.IndexScratch.AppendIdBase
    val pass = graft.tools.IndexScratch.passNumber(s"dedup_go|$sfDir")
    val rows = serveOnlyBatch(spark, sfDir)
    import spark.implicits._
    val batch = rows.map { case (id, text) => (id + base * pass, text) }
      .toDF("doc_id", "text")
      .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1g" + pass))
    gateAndIngest(spark, dir, batch, thresholdE4)
  }

  /** The shared fixed-size batch of the serve-only / append-only /
    * gate-only fixtures (and their streaming twins): the capped slice of
    * the 10% bucket, extracted ONCE per corpus (bounded app input — see
    * [[dedupServeOnly]]). */
  private[graft] def serveOnlyBatch(spark: SparkSession, sfDir: String): Seq[(Long, String)] =
    serveOnlyBatchMemo.computeIfAbsent(sfDir, _ =>
      Tables.documents(spark, sfDir)
        .filter(batchPred && col("doc_id") < ServeOnlyIdCap)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq)

  /** The `dedup_served_del` fixture chain — the DELETE path end-to-end:
    * full corpus index, tombstone every (doc_id % 10 == 3) indexed doc,
    * serve the batch through the mask. The oracle is the served chain
    * over the SURVIVOR corpus — tombstoned docs must neither match nor
    * count toward any bucket cap. */
  def dedupDeleted(spark: SparkSession, sfDir: String,
      thresholdE4: Long = 5000L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = memoizedDir(spark, "graft_dedupidx_del", sfDir) { d =>
      writeIndex(docs.filter(!batchPred), d)
      deleteFromIndex(spark, d,
        docs.filter(!batchPred).filter(col("doc_id") % 10 === 3).select("doc_id"))
    }
    servedDupes(spark, dir, docs.filter(batchPred), thresholdE4)
  }
}
