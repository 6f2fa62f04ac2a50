package graft.operators

import graft.Caching
import graft.sources.BulkOps
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
  *   - `<table>_delta`, `tombstones`, `base_mask`: appended segments and
  *     the two delete logs, consumed by the tiered fold
  *     ([[compactIndex]]; the IndexLifecycle "Folds" section).
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

  private def bandedWithPb(wide: DataFrame, meta: IndexMeta,
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

  private def slimWithMb(wide: DataFrame, meta: IndexMeta): DataFrame =
    slimFromWide(wide, meta.numPerms)
      .withColumn("mb", pmod(col("doc_id"), lit(meta.minsParts.toLong)))

  /** Write the signature index for `docs` under `dir`: one corpus
    * aggregation feeds both artifacts (the wide minima frame is cached
    * while the count and the banded and slim writes read it, and its
    * entry is dropped after them, [[graft.Caching.withCached]]). Docs
    * shorter than a shingle (< 3 tokens) have no signature and are
    * absent, exactly as they are invisible to [[DedupOps.minhashLsh]] —
    * they still COMMIT to the ids sidecar (the index is the authority on
    * ids), so a redelivered sub-shingle doc is skipped, not retried.
    * A fresh build starts with [[IndexLifecycle.beginBuild]]: the lease,
    * then every artifact of the dir's past life deleted (journal, staged
    * copies, deltas, id logs, pending markers). */
  def writeIndex(docs: DataFrame, dir: String,
      numPerms: Int = DedupOps.MinhashK, bandSize: Int = DedupOps.BandSize): Unit = {
    require(numPerms > 0 && bandSize > 0 && numPerms % bandSize == 0,
      s"numPerms ($numPerms) must be a positive multiple of bandSize ($bandSize)")
    val spark = docs.sparkSession
    IndexLifecycle.beginBuild(spark, dir)
    // the wide minima frame feeds the count and both table writes; its
    // cache entry ends with them
    val meta = Caching.withCached(
        DedupOps.minhashWide(DedupOps.shinglePostings(docs), numPerms)) { wide =>
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
      meta
    }
    import spark.implicits._
    BulkOps.writePath(
        Seq((numPerms.toLong, bandSize.toLong, meta.bucketParts.toLong, meta.minsParts.toLong))
          .toDF("num_perms", "band_size", "bucket_parts", "mins_parts"),
        SaveMode.Overwrite)
      .save(s"$dir/meta")
    metaMemo.put(dir, meta)
    // the sidecar commits EVERY doc id (unsignable docs too — the index
    // is the authority on ids, so their redelivery skips), so its dial
    // sizes from the FULL doc count, not the signable count
    IndexLifecycle.writeIds(spark, dir, "doc_id", docs.select("doc_id"), docs.count())
  }

  // the dial row per index dir, read once per JVM for SERVES; mutation
  // paths ([[appendToIndex]], [[compactIndex]]) re-read the stored row
  // and re-prime, so a stale memo can never corrupt the index — it can
  // only mis-probe a serve in a multi-process deployment that rewrites
  // dirs out-of-band (call [[IndexLifecycle.clearMemos]] there; see
  // DEPLOY.md).
  private[operators] val metaMemo = new java.util.concurrent.ConcurrentHashMap[String, IndexMeta]()

  private val MetaSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "num_perms BIGINT, band_size BIGINT, bucket_parts BIGINT, mins_parts BIGINT")

  private def loadMeta(spark: SparkSession, dir: String): IndexMeta = {
    val r = BulkOps.readPath(spark, s"$dir/meta", Some(MetaSchema)).head()
    val dial = (i: Int) => Math.toIntExact(r.getLong(i))
    IndexMeta(dial(0), dial(1), dial(2), dial(3))
  }

  private def readMetaFresh(spark: SparkSession, dir: String): IndexMeta = {
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
    * text is still skipped, and a tombstoned id stays skipped until a
    * [[compactIndex]] fold consumes its tombstone (a minor fold masks its
    * base rows, a major one drops them) — re-ingesting a deleted doc
    * requires folding first. */
  def appendToIndex(spark: SparkSession, dir: String, newDocs: DataFrame): Unit = {
    val meta = readMetaFresh(spark, dir)
    // one batch signature pass feeds both table writes (each filtered
    // to the protocol's fresh-id frame); its cache entry ends with them
    Caching.withCached(DedupOps.batchMinhashWide(newDocs, meta.numPerms)) { wide =>
      appendWide(spark, dir, newDocs.select("doc_id"), meta, fresh =>
        wide.join(broadcast(fresh), Seq("doc_id"), "left_semi")
          // one file per segment (a bounded batch's rows — the shuffle
          // partitioning would write 32 shards of a few KB)
          .repartition(1))
    }
  }

  /** The table-write half of [[appendToIndex]] and [[gateAndIngest]]:
    * `freshWide` maps the protocol's fresh-id frame to those ids'
    * signature rows at `meta`'s dials, in ONE partition (one file per
    * delta segment). */
  private def appendWide(spark: SparkSession, dir: String,
      batchIds: DataFrame, meta: IndexMeta,
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
    IndexLifecycle.appendGuarded(spark, dir, "doc_id", batchIds, tables)
  }

  /** Dedup an arriving batch against the STORED index: returns
    * (doc_id, dup_of, est_e4) — batch docs whose estimated Jaccard
    * against some indexed doc reaches `thresholdE4`, with the stored
    * doc they collide with. Batch-internal duplicates are NOT reported
    * (the [[DedupOps.incrNearDup]] contract: the index is the dedup
    * authority, the batch dedups against it).
    *
    * BOUNDED-BATCH CONTRACT: `batch` is app input of ingest size, and
    * the serve keeps its batch side on the driver whoever calls it (the
    * [[gateAndIngest]] posture, [[graft.Caching.localFrame]]). The batch
    * signature frame (doc_id, mh0..mh{K-1}) is derived and collected once
    * (driver memory ≈ rows × (K+1) × 8 B), and the candidate list —
    * bounded by bucketCap × batch bands pairs, each carrying the batch
    * doc's K minima — is collected too (≈ pairs × (K+2) × 8 B). So the
    * serve registers no cache entry and takes no checkpoint; an executor
    * loss re-runs tasks from the driver-held rows instead of failing a
    * read. Two eager actions run per call: the batch signature collect
    * and the candidate collect; the batch's `pb` set and the candidates'
    * `mb` set read off the driver rows, and both id logs are read on the
    * driver ([[IndexLifecycle.serveMasks]]), with no job. The returned
    * agreement plan is lazy.
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
    * Delete masks ([[deleteFromIndex]] tombstones, and the `base_mask`
    * of minor-folded deletes on base rows) land on each side of the
    * PRUNED sigs and mins reads — above the partition pruning, below the
    * bucket recount, so a masked serve is EXACTLY the survivor-index
    * answer (deleted docs neither produce candidates nor inflate a
    * bucket toward the cap — not a stale-stats approximation — and a
    * deleted-then-re-ingested doc agrees through its new minima only). */
  def servedDupes(spark: SparkSession, dir: String, batch: DataFrame,
      thresholdE4: Long = 5000L, bucketCap: Long = DedupOps.MaxBandBucket): DataFrame = {
    val meta = readMeta(spark, dir)
    val wide = DedupOps.batchMinhashWide(batch, meta.numPerms)
    val rows = wide.collect().toSeq
    serveCore(spark, dir, meta, Caching.localFrame(spark, rows, wide.schema),
      batchBuckets(rows, meta), thresholdE4, bucketCap)
  }

  /** The `sigs` buckets (`pb`) of batch signature rows (doc_id,
    * mh0..mh{K-1}), computed on the driver by [[bandedWithPb]]'s rule:
    * pb = crc32(band sig string) mod bucket_parts, the sig string the
    * band's minima joined by commas. */
  private[operators] def batchBuckets(rows: Seq[Row], meta: IndexMeta): Seq[Int] =
    rows.flatMap { r =>
      (0 until meta.numPerms / meta.bandSize).map { b =>
        val sig = (0 until meta.bandSize).map(i => r.getLong(1 + b * meta.bandSize + i)).mkString(",")
        val crc = new java.util.zip.CRC32
        crc.update(sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (crc.getValue % meta.bucketParts).toInt
      }
    }.distinct

  /** The serve shared by [[servedDupes]] and [[gateAndIngest]]: `wideB`
    * is the batch's signature frame (doc_id, mh0..mh{K-1}) at `meta`'s
    * dials, a local frame. The bounded candidate pair list is collected
    * once, because the agreement stage reads it twice (the mb partition
    * probe and the broadcast join) and each recompute would re-run the
    * pruned sigs scan underneath it. Returns the lazy agreement plan
    * (doc_id, dup_of, est_e4). */
  private def serveCore(spark: SparkSession, dir: String, meta: IndexMeta,
      wideB: DataFrame, pbs: Seq[Int], thresholdE4: Long, bucketCap: Long): DataFrame = {
    // each banded batch row carries its doc's minima, so the candidate
    // pairs bring them to the agreement stage
    val bBanded = bandedWithPb(
      wideB.withColumn("mh_new", array((0 until meta.numPerms).map(k => col(s"mh$k")): _*)),
      meta, carry = Seq("mh_new"))

    // STATIC partition pruning, guaranteed by construction: the batch's
    // pb set (`pbs`, computed from the driver-held batch rows — no job)
    // is pushed as an In filter on the RAW partition column (before any
    // cast, so it reaches the scan's PartitionFilters; plan-gated),
    // rather than left to the optimizer's DPP cost heuristic. An empty
    // batch prunes everything.
    // Base ∪ delta: appended batches live in `sigs_delta` segments; the
    // same pb filter prunes the base's directories and the delta's row
    // groups (pb is a data column there). The masks (both id logs, read
    // once on the driver) drop deleted docs from each side: they neither
    // produce candidates nor inflate a bucket toward the cap
    val masks = IndexLifecycle.serveMasks(spark, dir, "doc_id")
    val stored = IndexLifecycle.tableWithDelta(spark, dir, "sigs", masks)(df =>
      df.filter(col("pb").isin(pbs: _*)).select("band", "sig", "doc_id"))
      .select(col("band"), col("sig"), col("doc_id").as("dup_of"))

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
    val cand = Caching.localFrame(capped
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
    // broadcast candidate list prunes rows within them. The mb set reads
    // off the driver-held candidate rows (no job).
    val mbs = cand.select(pmod(col("dup_of"), lit(meta.minsParts.toLong)))
      .collect().map(_.getLong(0)).distinct.toSeq
    IndexLifecycle.tableWithDelta(spark, dir, "mins", masks)(df =>
      df.filter(col("mb").isin(mbs: _*)).select("doc_id", "k", "mh"))
      .select(col("doc_id").as("dup_of"), col("k"), col("mh").as("mh_old"))
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
    * checkpoint: its intermediate frames are local snapshots on
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
    val wideRows = wide0.collect()
    val wide = Caching.localFrame(spark, wideRows.toSeq, wide0.schema)
    val idx = bestMatch(
      serveCore(spark, dir, meta, wide, batchBuckets(wideRows.toSeq, meta), thresholdE4, bucketCap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
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
    val report = Caching.localFrame(spark, ids.toSeq.zip(verdicts).map {
      case (id, (verdict, m)) => Row(id, verdict,
        m.map(x => java.lang.Long.valueOf(x._1)).orNull,
        m.map(x => java.lang.Long.valueOf(x._2)).orNull)
    }, ReportSchema)
    // survivor append from the gate's OWN signature rows, filtered on the
    // driver to the protocol's fresh ids (local frames — no re-shingling,
    // no broadcast join, and the survivor ids collect with no job)
    appendWide(spark, dir, report.filter(col("verdict") === "ingested").select("doc_id"), meta,
      fresh => wide.filter(col("doc_id").isInCollection(fresh.collect().map(_.getLong(0))))
        .coalesce(1))
    report
  }

  /** Delete documents from the stored index — the HBase-delete shape
    * shared with [[AnnIndexOps.deleteFromIndex]]: an O(|ids|) tombstone
    * append, a serve-time broadcast mask, delta rows dropped at the next
    * [[compactIndex]] and base rows at the next major fold. */
  def deleteFromIndex(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    BulkOps.writePath(ids.select(col("doc_id").cast("long")), SaveMode.Append)
      .save(s"$dir/tombstones")

  /** The dedup tables' fold spec: (name, partition column, normalizer). */
  private val FoldTables: Seq[(String, Seq[String], DataFrame => DataFrame)] = Seq(
    ("mins", Seq("mb"), df => df.withColumn("mb", col("mb").cast("long"))),
    ("sigs", Seq("pb"), df => df.withColumn("pb", col("pb").cast("long"))))

  /** Fold the index — the TIERED fold ([[IndexLifecycle.foldTiered]]).
    * By default the MINOR fold runs: each table's delta segments
    * (`mins_delta`, `sigs_delta`, `ids_delta`) merge into one flat
    * segment minus the tombstoned docs, and the consumed tombstone files
    * move, by rename, into the `base_mask` log, which masks base rows
    * only — O(delta) work; the partitioned base tables and their open
    * serving handles are untouched. The MAJOR fold ([[majorCompactIndex]])
    * runs instead once the delta holds as many ids as the base (so a
    * serve reads at most 2× the base: read amplification ≤ 2) or the
    * mask logs name a fifth of the base's ids; it rewrites `mins`, `sigs`
    * and the ids sidecar minus every masked doc and purges both logs.
    * The choice reads stored row counts and parquet footers on the driver
    * (no Spark job). Either fold serves identically before and after
    * (the DedupIndexSpec differential), makes a deleted doc re-ingestable
    * (the sidecar probe skips masked base ids), and is crash-safe under
    * the `fold_commit` journal: a crash before it discards the staged
    * copies, one after it rolls forward at the next fold, and appends
    * refuse while it is pending. A fold that would empty the index is
    * refused. Returns false on no-op. */
  def compactIndex(spark: SparkSession, dir: String): Boolean = {
    readMetaFresh(spark, dir) // re-prime the dial memo while we hold the mutation
    IndexLifecycle.foldTiered(spark, dir, "doc_id", FoldTables)
  }

  /** The MAJOR fold by name, whatever the size rule says: rewrite `mins`
    * and `sigs` (each keeping its partitioning, so pruned serves are
    * unchanged after the swap) and the ids sidecar minus every masked doc
    * (tombstones and base mask), swap each in crash-safely through the
    * journaled commit every rewrite shares ([[IndexLifecycle.compactTables]]
    * — rename aside, rename in, every step checked), purge both logs.
    * Returns false on no-op. */
  def majorCompactIndex(spark: SparkSession, dir: String): Boolean = {
    readMetaFresh(spark, dir)
    IndexLifecycle.compactTables(spark, dir, "doc_id", FoldTables)
  }
}
