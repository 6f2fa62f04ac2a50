package graft.operators

import graft.sources.BulkOps
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The ONE stored-index lifecycle shared by all three persisted indexes
  * ([[DedupIndexOps]] MinHash signatures, [[AnnIndexOps]] IVFADC
  * postings, [[RetrievalOps]] BM25 postings): membership sidecar,
  * guarded append (idempotent under at-least-once redelivery, crash-safe
  * under torn multi-table writes), tombstone-then-compact, and the
  * checked rename-swap primitives. Before this object the three indexes
  * triplicated the guard and swap logic, and the torn-append bug class
  * lived in exactly that triplication — now each index declares its
  * tables and the protocol runs once, here.
  *
  * ## The ids sidecar
  *
  * `dir/ids` is a one-column (id) table PARTITIONED BY
  * `ib = id mod id_parts` (the dial stored in `dir/ids_meta` — the
  * sidecar is self-describing like the dedup index's meta row). It holds
  * every COMMITTED id: an id is committed iff all of the index's data
  * tables hold its rows. Append-time idempotence probes the sidecar by
  * FILE SELECTION against a per-JVM directory listing memo: the batch's
  * distinct `ib` set picks exactly its own sidecar directories' files —
  * a small batch reads a few directories (8 bytes/id each), never a
  * corpus-sized data-table slice. The listing memo is built once (one
  * full directory walk per JVM per dir) and REFRESHED IN PLACE after
  * each append (re-listing only the batch's own directories), so the
  * steady-state ingest cadence never re-pays partition discovery — the
  * cost class the serving handles eliminated from serves. The probe
  * additionally pushes the batch's [min, max] id range as a data
  * filter, so parquet row-group stats prune WITHIN the selected files:
  * a monotone-id ingest (the production shape) skips every file of an
  * older id range even when a wide batch touches all `ib` buckets.
  * This replaces the per-batch one-row-slice reads (sigs band=0 /
  * postings sub=0 / bm25 distinct) that were O(index) I/O on every
  * ingest batch: worst case (a batch spanning the full id range AND
  * every ib) the guard reads the full sidecar, which is
  * ~numPerms·|sig| (dedup), M·|code| (ANN) or |postings| (BM25) times
  * smaller than the slice it replaces.
  *
  * ## The pending-marker protocol (why the sidecar stays truthful)
  *
  * The sidecar is only a valid guard if "in sidecar" really implies "in
  * every data table". A multi-table append can crash between writes, so
  * each append runs:
  *
  *   1. resolve old markers: a `dir/pending/p_*` marker whose ids are
  *      all in the sidecar is a completed append — delete it. Leftover
  *      ids are SUSPECTS: a previous append crashed mid-write for them.
  *   2. classify the batch: ids in the sidecar are committed (skip —
  *      the index is the authority on ids: a redelivered id with
  *      different content is still skipped, and a tombstoned id stays
  *      skipped until compaction drops it); remaining ids are to-commit.
  *   3. write a pending marker holding the to-commit ids (O(batch)).
  *   4. per table, in DECLARED ORDER, append rows for the to-commit ids
  *      — minus, for suspect ids only, the rows that table already
  *      holds (the per-table one-row-slice check, now confined to the
  *      bounded suspect set instead of running corpus-sized every
  *      batch). Table order is chosen by each index so its torn states
  *      are structurally invisible to serves (e.g. dedup writes `mins`
  *      before `sigs`: a half-appended doc can never become a
  *      candidate). Writes land as DELTA SEGMENTS (`<table>_delta`,
  *      one small unpartitioned file set per batch) rather than fanning
  *      one tiny file into every touched partition directory — measured
  *      ~11 ms per directory at local[32] and the small-files explosion
  *      at a 100-TB ingest cadence; serves union base ∪ delta
  *      ([[tableWithDelta]]) and compaction folds segments into the
  *      partitioned base ([[compactTables]]).
  *   5. append the to-commit ids to the sidecar's delta — the commit
  *      point.
  *   6. delete this batch's marker.
  *
  * Crash anywhere: the marker survives, the ids stay out of the sidecar,
  * and the next delivery's step 4 completes exactly the missing tables
  * (the per-table self-healing the index specs pin). Crash between 5
  * and 6: the marker resolves as completed at the next append's step 1.
  *
  * Steady state (no crash evidence) the protocol costs one pruned
  * sidecar probe, one O(batch) marker write and one O(batch) sidecar
  * append per batch — nothing corpus-sized.
  *
  * Reference analogue: the write-then-verify-then-swap discipline of
  * api/common/HBaseStaticHelper.java:41-78 (replaceTable with backup),
  * applied per ingest batch.
  *
  * ## INVARIANT: parquet data files are immutable (inode-level)
  *
  * No lifecycle operation may rewrite a parquet data file IN PLACE:
  * appends create NEW segment files, compaction and rebuild write aside
  * and RENAME, deletes unlink. This is load-bearing beyond tidiness —
  * [[graft.contract.IndexFixtures.resetFromPristine]] HARDLINKS parquet
  * files on local filesystems (a pristine fixture copy shares inodes
  * with the working dir), so an in-place rewrite through one link would
  * silently corrupt every other tree sharing the inode. The one
  * in-place-rewritten file, `lease`, is not parquet and is explicitly
  * byte-copied there. Guarded by a spec that asserts pristine-file
  * immutability across a full gate cycle (IndexLifecycleSpec). A future
  * writer that needs to replace a file must write beside and rename —
  * never open an existing data file for write.
  */
object IndexLifecycle {

  /** Power-of-two partition-count dial: enough partitions that each
    * holds ~`rowsPerPart` rows, clamped to [minParts, maxParts]. Powers
    * of two keep `mod` buckets stable-ish under resizing and the
    * directory count predictable. */
  def sizedParts(nRows: Long, rowsPerPart: Long, minParts: Int, maxParts: Int): Int = {
    require(minParts > 0 && maxParts >= minParts)
    val want = math.max(1L, nRows / math.max(1L, rowsPerPart))
    val floorPow = java.lang.Long.highestOneBit(want)
    val pow = if (floorPow == want) floorPow else floorPow << 1
    math.min(maxParts.toLong, math.max(minParts.toLong, pow)).toInt
  }

  /** Sidecar sizing: ~8k ids (64 KB) per directory. */
  val IdsRowsPerPart = 8192L
  val IdsMinParts = 16
  val IdsMaxParts = 4096

  // id_parts per sidecar dir, memoized for the day someone adds a pure
  // probe path; every MUTATION re-reads the stored row at entry
  // ([[appendGuarded]]) and re-primes, so a dir rewritten at a different
  // dial by another process cannot corrupt an append (the dedup
  // meta-dial discipline, regression-tested in IndexLifecycleSpec).
  private val idsMetaMemo = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private val IdsMetaSchema = StructType.fromDDL("id_parts BIGINT")

  private def readIdParts(spark: SparkSession, dir: String): Int = {
    val n = BulkOps.readPath(spark, s"$dir/ids_meta", Some(IdsMetaSchema))
      .select("id_parts").head().getLong(0).toInt
    idsMetaMemo.put(dir, n)
    n
  }

  /** Drop every per-JVM per-dir memo of the stored indexes: the dedup
    * `meta` dials, the sidecar `ids_meta` dials, the sidecar file
    * listings and the serving handles. A long-lived process whose index
    * dirs another process rewrote out-of-band calls this before serving
    * from them again (DEPLOY.md). */
  def clearMemos(): Unit = {
    DedupIndexOps.metaMemo.clear()
    idsMetaMemo.clear()
    idsListingMemo.clear()
    handles.clear()
    handleSchemas.clear()
  }

  // ---- sidecar file-listing memo (the flat append-path probe) ----------

  /** One sidecar's file inventory at a dial: `ib → data files` for the
    * partitioned BASE plus the flat DELTA segment files ([[appendGuarded]]
    * step 5 appends land in `ids_delta` — one small unpartitioned
    * segment per batch, folded into the base by compaction). Probes
    * select files straight from this inventory instead of constructing
    * a DataFrame over the partitioned directory tree — at 4096
    * directories that construction's discovery walk was ~6 s at the
    * 100× corpus, paid per APPEND (the serve side's identical cost is
    * already behind [[servingHandle]]; appends mutate the sidecar, so
    * they need this refresh-in-place inventory instead of a frozen
    * handle). */
  private final case class IdsListing(parts: Int,
      files: Map[Long, Seq[String]], delta: Seq[String])
  private val idsListingMemo =
    new java.util.concurrent.ConcurrentHashMap[String, IdsListing]()
  /** Test seam: counts FULL directory walks (memo misses). */
  private[graft] val idsFullListings = new java.util.concurrent.atomic.AtomicLong()

  private def hadoopFs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** List the data files of the selected (or all) `ib=` directories. */
  private def listIbDirs(spark: SparkSession, dir: String,
      ibs: Option[Seq[Long]]): Map[Long, Seq[String]] = {
    val base = new org.apache.hadoop.fs.Path(s"$dir/ids")
    val f = hadoopFs(spark, base)
    val dirPaths: Seq[(Long, org.apache.hadoop.fs.Path)] = ibs match {
      case Some(sel) => sel.flatMap { ib =>
        val p = new org.apache.hadoop.fs.Path(base, s"ib=$ib")
        if (f.exists(p)) Some(ib -> p) else None
      }
      case None =>
        idsFullListings.incrementAndGet()
        f.listStatus(base).toSeq.filter(_.isDirectory).flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("ib=")) Some(n.stripPrefix("ib=").toLong -> st.getPath)
          else None
        }
    }
    dirPaths.map { case (ib, p) =>
      ib -> f.listStatus(p).toSeq
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        .map(_.getPath.toString)
    }.toMap
  }

  /** The data files of one flat (unpartitioned) directory, or empty if
    * it does not exist — the delta-segment listing. */
  private def listFlatDir(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = hadoopFs(spark, p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.getPath.toString)
  }

  /** The memoized inventory — full walk only on a miss or a dial change;
    * [[appendGuarded]] refreshes it in place after its sidecar append
    * (re-listing only the one-directory delta). */
  private def idsListing(spark: SparkSession, dir: String, parts: Int): IdsListing = {
    val cached = idsListingMemo.get(dir)
    if (cached != null && cached.parts == parts) cached
    else {
      val l = IdsListing(parts, listIbDirs(spark, dir, None),
        listFlatDir(spark, s"$dir/ids_delta"))
      idsListingMemo.put(dir, l)
      l
    }
  }

  // ---- single-writer lease ----------------------------------------------

  /** Mutation-lease TTL — the reference's admin-lock discipline (an
    * HBase lock row with a 4000 s TTL, pid owner, re-acquire-if-own:
    * api/meta/TableLock.java:40-81, renewed by the owning process,
    * api/meta/TechnicalMetaUpdater.java:29-54). A crashed writer's lease
    * frees itself when the TTL lapses. */
  val LeaseTtlMs: Long = 4000L * 1000L

  /** Process-stable owner id: `pid@host` plus a per-JVM nonce (a reused
    * pid after a host reboot must not look like the old owner). */
  private[graft] val jvmOwner: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName +
      "#" + java.util.UUID.randomUUID().toString.take(8)

  /** Test seam: impersonate another process's owner id. */
  @volatile private[graft] var ownerOverride: Option[String] = None
  private def leaseOwner: String = ownerOverride.getOrElse(jvmOwner)

  private def leaseFile(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/lease")

  private def readLease(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[(String, Long)] =
    if (!f.exists(p)) None
    else scala.util.Try {
      val in = f.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val lines = txt.split('\n')
      (lines(0), lines(1).trim.toLong)
    }.toOption // unreadable/corrupt = no valid holder: the takeover path re-creates

  private def writeLease(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, overwrite: Boolean, expiry: Long): Unit = {
    val out = f.create(p, overwrite)
    try out.write(s"$leaseOwner\n$expiry\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Acquire or renew `dir`'s single-writer mutation lease — the FIRST
    * step of every mutation entry point ([[writeIds]]/[[appendGuarded]]/
    * [[compactTables]]/[[rebuildTables]] and each index's `writeIndex`).
    * Two concurrent appenders could both classify an id as fresh and
    * double-write its rows, so the second writer must refuse LOUDLY —
    * this enforces what used to be a trust-based deployment contract.
    * Held-and-live by another owner → IllegalStateException; expired or
    * absent → takeover via create-exclusive (atomic on HDFS and local
    * filesystems) plus a confirming re-read for stores whose create is
    * weaker. Renewals rewrite in place (only the owner may). `ttlMs` is
    * a test seam; production uses the [[LeaseTtlMs]] discipline.
    * Tombstone APPENDS stay lock-free by design: each is an O(|ids|)
    * new-file append consumed atomically by the next leased compaction. */
  private[graft] def acquireLease(spark: SparkSession, dir: String,
      ttlMs: Long = LeaseTtlMs): Unit = {
    val p = leaseFile(dir)
    val f = hadoopFs(spark, p)
    val now = System.currentTimeMillis()
    readLease(f, p) match {
      case Some((owner, _)) if owner == leaseOwner =>
        writeLease(f, p, overwrite = true, now + ttlMs)
      case Some((owner, expiry)) if expiry > now =>
        throw new IllegalStateException(
          s"index mutation refused: $dir is leased to $owner for another " +
            s"${(expiry - now) / 1000} s — mutations are single-writer per index " +
            "dir (a crashed writer's lease expires after its TTL; see DEPLOY.md)")
      case stale =>
        if (stale.isDefined || f.exists(p)) f.delete(p, false)
        try writeLease(f, p, overwrite = false, now + ttlMs)
        catch {
          case e: java.io.IOException => throw new IllegalStateException(
            s"index mutation refused: lost the lease race for $dir", e)
        }
        readLease(f, p) match {
          case Some((o, _)) if o == leaseOwner => ()
          case got => throw new IllegalStateException(
            s"index mutation refused: lost the lease race for $dir (holder: $got)")
        }
    }
  }

  /** Drop `dir`'s lease if this owner holds it — optional (an unreleased
    * lease expires by TTL), for writers that hand an index off early. */
  def releaseLease(spark: SparkSession, dir: String): Unit = {
    val p = leaseFile(dir)
    val f = hadoopFs(spark, p)
    readLease(f, p) match {
      case Some((o, _)) if o == leaseOwner => f.delete(p, false)
      case _ => ()
    }
  }

  // ---- serving handles -------------------------------------------------

  /** Open-once table handles for SERVE reads: constructing a DataFrame
    * over a many-directory index table costs seconds at scale — the
    * partition discovery lists every directory and schema inference
    * reads footers, and at 4096 partitions that dwarfed the pruned read
    * itself (measured: ~6 s of a 7.5 s dedup serve at the 100× corpus
    * was two table constructions; the data read was 0.1 s). A serving
    * process therefore opens each stored table ONCE and reuses the
    * handle across serves — the production serving shape. Handles
    * invalidate on every mutation THIS JVM performs (fresh build,
    * guarded append, compaction swap, rebuild swap, fixture
    * pristine-copy); an out-of-band mutation by another process
    * requires [[clearMemos]] (which drops the handles too — the
    * DEPLOY.md multi-process note). */
  private val handles = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  // the schema each handle was first opened with: an append adds files,
  // never columns, so a delta handle re-opened after an append skips
  // schema inference (one Spark job per open). Dropped with the handles
  // by every rewrite ([[invalidateHandles]], [[clearMemos]]).
  private val handleSchemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def servingHandle(spark: SparkSession, dir: String, table: String): DataFrame =
    handles.computeIfAbsent(s"$dir/$table", p => {
      val df = BulkOps.readPath(spark, p, Option(handleSchemas.get(p)))
      handleSchemas.putIfAbsent(p, df.schema)
      df
    })

  /** Base ∪ delta view of a stored table for SERVES: appends land as
    * small unpartitioned segments under `<table>_delta` (one directory
    * — no per-batch file fan-out across the partitioned tree, no
    * small-files explosion at an ingest cadence), and compaction folds
    * them into the base. `view` applies the serve's own pruning
    * projection to EACH side (the base side's partition-column filters
    * prune directories; the delta side's same filters prune row groups
    * of what is at most a few batches of rows between folds). The
    * existence check re-runs per serve because mutations create/delete
    * the delta dir; both handles stay open-once. */
  def tableWithDelta(spark: SparkSession, dir: String, table: String)(
      view: DataFrame => DataFrame): DataFrame = {
    val base = view(servingHandle(spark, dir, table))
    // presence = data files, not the directory: a fold deletes exactly
    // the segment files it journaled, which can leave a file-less dir
    // no reader could infer a schema from
    if (listFlatDir(spark, s"$dir/${table}_delta").isEmpty) base
    else base.unionByName(view(servingHandle(spark, dir, s"${table}_delta")))
  }

  /** The rows of a flat side log (tombstones, a delta) as Some(df), or
    * None when it holds no data files — file-based, so a dir emptied by
    * a file-level fold never breaks schema inference. */
  def flatLogOpt(spark: SparkSession, dir: String, table: String): Option[DataFrame] = {
    val files = listFlatDir(spark, s"$dir/$table")
    if (files.isEmpty) None else Some(spark.read.parquet(files: _*))
  }

  /** Drop every handle under `dir` — called by every mutation path (and
    * by out-of-band fixture copies). The sidecar file inventory drops
    * with them: anything that invalidates a serve handle may also have
    * changed the sidecar's files. [[appendGuarded]] re-primes its own
    * refreshed inventory AFTER this drop on the success path. */
  def invalidateHandles(dir: String): Unit = {
    handles.keySet.removeIf(k => k.startsWith(dir + "/") || k == dir)
    handleSchemas.keySet.removeIf(k => k.startsWith(dir + "/") || k == dir)
    idsListingMemo.remove(dir)
  }

  private def withIb(ids: DataFrame, idCol: String, parts: Int): DataFrame =
    ids.select(col(idCol).cast("long").as(idCol))
      .withColumn("ib", pmod(col(idCol), lit(parts.toLong)))

  /** (Re)create the sidecar for a FRESH build: every id of the initial
    * corpus is committed by construction. Also resets the protocol state
    * (pending markers) from the dir's past life. `expectedN` sizes the
    * partition dial. */
  def writeIds(spark: SparkSession, dir: String, idCol: String,
      ids: DataFrame, expectedN: Long): Unit = {
    // a partitioned write of zero rows produces a directory no reader
    // can infer a schema from — an empty corpus is "no index", refused
    // loudly here so every index family inherits the guard
    require(expectedN > 0,
      s"writeIds: empty id set — refusing to write an unreadable sidecar at $dir")
    acquireLease(spark, dir)
    val parts = sizedParts(expectedN, IdsRowsPerPart, IdsMinParts, IdsMaxParts)
    BulkOps.writePath(withIb(ids, idCol, parts).repartition(col("ib")), SaveMode.Overwrite)
      .partitionBy("ib").save(s"$dir/ids")
    import spark.implicits._
    BulkOps.writePath(Seq(parts.toLong).toDF("id_parts"), SaveMode.Overwrite)
      .save(s"$dir/ids_meta")
    idsMetaMemo.put(dir, parts)
    invalidateHandles(dir)
    if (BulkOps.fileExists(spark, s"$dir/pending"))
      BulkOps.deletePath(spark, s"$dir/pending")
    // a fresh build supersedes any delta segments from the dir's past
    // life (their rows belong to the replaced index)
    if (BulkOps.fileExists(spark, s"$dir/ids_delta"))
      BulkOps.deletePath(spark, s"$dir/ids_delta")
  }

  /** The ids of `candidates` already committed to the index — the
    * sidecar probe: the candidate set's distinct `ib` values (a bounded
    * driver materialization, ≤ id_parts longs) select exactly their own
    * directories' files from the memoized inventory (no partition
    * discovery), and the candidates' [min, max] id range pushes as a
    * data filter so parquet row-group stats prune within those files —
    * a monotone-id ingest skips every older file even when its batch
    * touches all `ib` buckets. Candidates must be bounded app input (an
    * ingest batch). `parts` is the sidecar dial the caller read — a
    * MUTATION passes the freshly-read stored value ([[appendGuarded]]
    * reads it once at entry), never a memo that another process's
    * rewrite could have staled. */
  def committedIds(spark: SparkSession, dir: String, idCol: String,
      candidates: DataFrame, parts: Int): DataFrame = {
    val ids = candidates.select(col(idCol).cast("long").as(idCol))
      .distinct().collect().map(_.getLong(0)).toIndexedSeq
    import spark.implicits._
    committedOf(spark, dir, idCol, ids, parts).toSeq.toDF(idCol)
  }

  /** The driver-resident probe behind [[committedIds]]: which of `ids`
    * (bounded app input) are committed. ONE Spark job — the candidate
    * set's ib buckets and [min, max] range compute locally. */
  private def committedOf(spark: SparkSession, dir: String, idCol: String,
      ids: Seq[Long], parts: Int): Set[Long] = {
    if (ids.isEmpty) return Set.empty
    val files = {
      val l = idsListing(spark, dir, parts)
      val ibs = ids.map(i => math.floorMod(i, parts.toLong)).distinct
      // base files of the batch's own buckets + EVERY delta segment
      // (each is one batch's worth of ids — small until the next fold)
      ibs.sorted.flatMap(ib => l.files.getOrElse(ib, Nil)) ++ l.delta
    }
    if (files.isEmpty) return Set.empty
    import spark.implicits._
    spark.read
      .schema(new org.apache.spark.sql.types.StructType()
        .add(idCol, org.apache.spark.sql.types.LongType))
      .parquet(files: _*)
      .filter(col(idCol).between(lit(ids.min), lit(ids.max)))
      .join(broadcast(ids.toDF(idCol)), Seq(idCol), "left_semi")
      .collect().map(_.getLong(0)).toSet
  }

  /** [[committedIds]] at the freshly-read stored dial — the public
    * membership probe for verification chains and fixtures (mutations
    * run inside [[appendGuarded]], which reads the dial once itself). */
  def committedProbe(spark: SparkSession, dir: String, idCol: String,
      candidates: DataFrame): DataFrame =
    committedIds(spark, dir, idCol, candidates, readIdParts(spark, dir))

  /** One data table under the guarded-append protocol: `oneRowPred`
    * selects a one-row-per-id slice (the suspect-path presence check);
    * `write` must APPEND exactly the rows of the fresh-id frame it is
    * handed. Declaration order = write order. `mutates` names the
    * tables the write actually touches (default: the delta view and,
    * conservatively, the base) — [[appendGuarded]] drops exactly those
    * serving handles, so a serve-after-append cadence keeps its
    * open-once handles on the untouched partitioned base (re-opening a
    * 4096-directory table is the ~6 s discovery cost the handles exist
    * to avoid — measured dominating the gate-and-ingest cycle at the
    * 100× corpus before this). */
  final case class GuardedTable(name: String, oneRowPred: Column,
      write: DataFrame => Unit, mutates: Seq[String] = Nil) {
    def mutatedTables: Seq[String] =
      if (mutates.nonEmpty) mutates else Seq(name, s"${name}_delta")
  }

  /** Crash-window fault injection for the lifecycle specs: the step name
    * at which the next [[appendGuarded]] throws (a table name, "pending"
    * or "ids"). Test-only; always reset in a finally. */
  @volatile private[graft] var crashAt: Option[String] = None
  private def maybeCrash(step: String): Unit =
    if (crashAt.contains(step))
      throw new IllegalStateException(s"injected crash at step '$step'")

  /** The guarded multi-table append — protocol in the object scaladoc.
    * `batchIds` must be bounded app input (an ingest batch); its
    * materializations here (classification, marker, sidecar) are all
    * O(batch). SINGLE WRITER per index dir, ENFORCED by
    * [[acquireLease]] (the reference's admin-lock discipline,
    * api/meta/TableLock.java:40-81): two concurrent appends could both
    * classify an id as fresh and double-write its rows, so a second
    * live writer refuses loudly instead of corrupting counts;
    * concurrent SERVES are safe throughout. */
  def appendGuarded(spark: SparkSession, dir: String, idCol: String,
      batchIds0: DataFrame, tables: Seq[GuardedTable]): Unit =
    // the batch id set is BOUNDED app input (an ingest batch), so the
    // protocol state lives DRIVER-RESIDENT: collect once, and every
    // downstream use (classification, marker, sidecar segment, the
    // per-table broadcast semi-joins) works from the same local set —
    // deterministic across its many reads with no checkpoint, and each
    // protocol step costs exactly one Spark job
    appendGuardedSeq(spark, dir, idCol,
      batchIds0.select(col(idCol).cast("long").as(idCol))
        .distinct().collect().map(_.getLong(0)).toIndexedSeq,
      tables)

  /** [[appendGuarded]] for callers whose batch ids are ALREADY
    * driver-resident (the fixture/streaming chains assemble their
    * batches from local rows): same protocol, minus the one Spark job
    * that collected an id set the caller was holding all along. */
  private[graft] def appendGuardedSeq(spark: SparkSession, dir: String, idCol: String,
      batchIds1: Seq[Long], tables: Seq[GuardedTable]): Unit = {
    require(BulkOps.fileExists(spark, s"$dir/ids"),
      s"no ids sidecar under $dir — appends require an index written by this lifecycle")
    // a crashed fold/rebuild left its roll-forward journal: recovery
    // will consume exactly the files the journal names, so new segments
    // must not land beside them — refuse until a compact/rebuild entry
    // point has rolled the journal forward (the rebuild serve contract)
    require(!BulkOps.fileExists(spark, s"$dir/fold_commit") &&
        !BulkOps.fileExists(spark, s"$dir/rebuild_commit"),
      s"a crashed maintenance operation left its journal under $dir — run the " +
        "index's compact/rebuild entry point to recover before appending")
    acquireLease(spark, dir)
    // the stored dial, read FRESH before any probe: marker resolution
    // and batch classification must bucket at the dial the sidecar is
    // actually partitioned by — a memoized dial staled by an
    // out-of-band rewrite would probe the wrong directories, classify
    // committed ids as fresh and double-write their rows. Step 5's
    // sidecar append reuses the same value (single writer: nothing can
    // legally change it mid-append).
    val parts = readIdParts(spark, dir)
    import spark.implicits._
    val batchSeq = batchIds1.distinct.toIndexedSeq
    if (batchSeq.isEmpty) return

    // step 1: resolve old markers; leftovers are the suspect pool
    val markers =
      if (BulkOps.fileExists(spark, s"$dir/pending")) listChildren(spark, s"$dir/pending")
      else Seq.empty
    val unresolved: Seq[(String, Set[Long])] = markers.flatMap { m =>
      val pids = BulkOps.readPath(spark, m)
        .select(col(idCol).cast("long").as(idCol))
        .collect().map(_.getLong(0)).toIndexedSeq
      val open = pids.toSet -- committedOf(spark, dir, idCol, pids, parts)
      if (open.isEmpty) { BulkOps.deletePath(spark, m); None } else Some((m, open))
    }
    val suspectPool: Set[Long] = unresolved.flatMap(_._2).toSet

    // step 2: classify — committed ids skip everything
    val toCommitSeq = batchSeq.filterNot(committedOf(spark, dir, idCol, batchSeq, parts))
    if (toCommitSeq.isEmpty) return
    val toCommit = toCommitSeq.toDF(idCol)
    val suspects: Option[Set[Long]] =
      Some(suspectPool.intersect(toCommitSeq.toSet)).filter(_.nonEmpty)

    // step 3: pending marker (the ids this append intends to commit).
    // The id set is driver-resident and bounded, so the write is a
    // DIRECT single-file put when the seam allows (no Spark job for a
    // one-file write of data the driver already holds)
    val marker = s"$dir/pending/p_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    if (!BulkOps.writeIdsDirect(spark, marker, idCol, toCommitSeq))
      BulkOps.writePath(toCommit.repartition(1), SaveMode.Overwrite).save(marker)
    // the post-append sidecar inventory: set only when step 5 completed
    // AND its incremental re-list ran — any crash leaves it None, so the
    // finally below drops the memo and the next append re-walks the tree
    // (which then SEES whatever the crashed write left behind)
    var refreshed: Option[IdsListing] = None
    try {
      maybeCrash("pending")

      // step 4: per-table writes in declared order; suspect ids check the
      // table's one-row slice (bounded — only runs after crash evidence)
      tables.foreach { t =>
        val fresh = suspects match {
          case None => toCommit
          case Some(s) =>
            // the presence check must see delta segments too — a crashed
            // append's rows land there, not in the partitioned base
            val sDf = s.toSeq.toDF(idCol)
            val baseIds = BulkOps.readPath(spark, s"$dir/${t.name}")
              .filter(t.oneRowPred).select(col(idCol).cast("long").as(idCol))
            val deltaPath = s"$dir/${t.name}_delta"
            val allIds =
              if (!BulkOps.fileExists(spark, deltaPath)) baseIds
              else baseIds.unionByName(BulkOps.readPath(spark, deltaPath)
                .filter(t.oneRowPred).select(col(idCol).cast("long").as(idCol)))
            val present = allIds
              .join(broadcast(sDf), Seq(idCol), "left_semi")
              .collect().map(_.getLong(0)).toSet
            toCommitSeq.filterNot(present).toDF(idCol)
        }
        t.write(fresh)
        maybeCrash(t.name)
      }

      // step 5: commit point — the ids enter the sidecar, as ONE small
      // delta segment (a per-batch partitioned append would fan out one
      // tiny file per touched ib directory — measured ~11 ms per
      // directory at local[32], and the small-files explosion at 100 TB;
      // compaction folds segments into the ib-partitioned base)
      if (!BulkOps.writeIdsDirect(spark, s"$dir/ids_delta", idCol, toCommitSeq))
        BulkOps.writePath(toCommit.repartition(1), SaveMode.Append)
          .save(s"$dir/ids_delta")
      maybeCrash("ids")
      // refresh the file inventory IN PLACE: only the one-directory
      // delta gained a segment — the steady-state append cadence never
      // re-walks the partitioned directory tree
      refreshed = Some(idsListing(spark, dir, parts)
        .copy(delta = listFlatDir(spark, s"$dir/ids_delta")))

      // step 6: this append's marker is done, and so is any older marker
      // whose open ids this append just committed — a single redelivery
      // fully converges the protocol state (markers for ids NOT in this
      // batch stay for their own later delivery)
      BulkOps.deletePath(spark, marker)
      val committed = toCommitSeq.toSet
      unresolved.foreach { case (m, open) =>
        if (open.subsetOf(committed)) BulkOps.deletePath(spark, m)
      }
    } finally {
      // a delta append never touches the partitioned base tables — drop
      // only the handles this append actually mutated (each table's
      // declared set plus the sidecar delta), even on a crash
      (tables.flatMap(_.mutatedTables) :+ "ids_delta").distinct
        .foreach(t => handles.remove(s"$dir/$t"))
      refreshed match {
        case Some(l) => idsListingMemo.put(dir, l)
        case None => idsListingMemo.remove(dir) // crashed: re-walk next probe
      }
    }
  }

  private def listChildren(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.toString)
  }

  /** The SHARED delete-then-compact driver behind all three stored
    * indexes — now also the DELTA FOLD (appends land as small
    * unpartitioned `<table>_delta` segments; this is where they merge
    * into the partitioned base). Runs when a tombstone log OR any delta
    * segment exists: rewrite each table as base ∪ delta minus the
    * tombstoned `idCol` rows BESIDE the live copy (preserving its
    * partitioning), journal the fold (`fold_commit` — the roll-FORWARD
    * point, the [[rebuildTables]] discipline: fold moves rows BETWEEN
    * tables, so per-table recovery alone cannot decide whether a delta
    * was consumed), then per table delete its delta and checked-swap the
    * compacted copy in. The ids SIDECAR folds with the data tables (a
    * tombstoned id leaves the sidecar exactly when its rows leave the
    * index, so re-ingesting a deleted doc becomes possible after
    * compaction — the documented contract). Returns false on no-op.
    * A compaction that would empty a table is refused: a partitioned
    * write of zero rows produces a directory no reader can infer a
    * schema from — deleting EVERYTHING is "drop the index", not a
    * maintenance operation.
    * `tables` = (name, partition columns, read normalizer). */
  private[operators] def compactTables(
      spark: SparkSession, dir: String, idCol: String,
      tables: Seq[(String, Seq[String], DataFrame => DataFrame)]): Boolean = {
    acquireLease(spark, dir)
    val withIds: Seq[(String, Seq[String], DataFrame => DataFrame)] =
      if (BulkOps.fileExists(spark, s"$dir/ids"))
        tables :+ (("ids", Seq("ib"), (df: DataFrame) =>
          df.withColumn("ib", col("ib").cast("long"))))
      else tables
    val names = withIds.map(_._1)
    // roll a crashed fold forward FIRST (its journal decides whether the
    // compacted copies committed), then legacy per-table swap recovery
    recoverFold(spark, dir, names)
    withIds.foreach { case (t, _, _) => recoverSwap(spark, s"$dir/$t") }
    // the CONSUMED FILES, listed eagerly: tombstone appends are
    // lock-free by design, so a tombstone (or, after a crash + lease
    // takeover, a delta segment) arriving later must SURVIVE this fold —
    // the journal names exactly these files and both the normal path and
    // recovery delete exactly these, never a whole directory
    val segs: Map[String, Seq[String]] =
      names.map(t => t -> listFlatDir(spark, s"$dir/${t}_delta")).toMap
    val tombFiles = listFlatDir(spark, s"$dir/tombstones")
    if (tombFiles.isEmpty && segs.values.forall(_.isEmpty)) false
    else {
      val tomb =
        if (tombFiles.isEmpty) None
        else Some(spark.read.parquet(tombFiles: _*).select(idCol))
      lazy val idParts = readIdParts(spark, dir)
      withIds.foreach { case (t, partCols, normalize) =>
        val base = normalize(BulkOps.readPath(spark, s"$dir/$t"))
        val full =
          if (segs(t).isEmpty) base
          else {
            val d0 = spark.read.parquet(segs(t): _*)
            // the ids delta is flat (idCol only) — bucket it at the
            // stored dial before it joins the partitioned base
            val d = if (t == "ids")
              d0.withColumn("ib", pmod(col(idCol).cast("long"), lit(idParts.toLong)))
            else d0
            base.unionByName(normalize(d))
          }
        val keep = tomb.fold(full)(tb => full.join(broadcast(tb), Seq(idCol), "left_anti"))
        require(!keep.isEmpty,
          s"compaction would empty $dir/$t — drop the index instead")
        // clustered by the partition columns first (the writeIndex /
        // writeIds discipline): one file per directory, so the file
        // count tracks the directory count instead of growing by one
        // read task's worth per directory every fold
        if (partCols.isEmpty) BulkOps.writePath(keep, SaveMode.Overwrite).save(s"$dir/${t}_compact")
        else BulkOps.writePath(keep.repartition(partCols.map(col): _*), SaveMode.Overwrite)
          .partitionBy(partCols: _*).save(s"$dir/${t}_compact")
      }
      // the fold journal — the point of no return: from here, recovery
      // COMPLETES every remaining file deletion and swap; before it,
      // stale _compact copies discard (the live base+delta are intact)
      BulkOps.writePath(
          { import spark.implicits._
            (segs.toSeq.flatMap { case (t, fs) => fs.map(f => (t, f)) } ++
              tombFiles.map(f => ("tombstones", f))).toDF("log", "file") },
          SaveMode.Overwrite)
        .save(s"$dir/fold_commit")
      maybeCrash("fold_commit")
      withIds.foreach { case (t, _, _) =>
        // consumed segments first: their rows live in the compacted
        // copy, so a crash window can only UNDER-report the freshest
        // appends to in-flight serves — never double-count rows, which
        // would corrupt the signature-agreement estimates; recovery
        // closes the window at the next lifecycle entry point
        segs(t).foreach(f => deleteFile(spark, f))
        dropLogDirIfEmpty(spark, s"$dir/${t}_delta")
        maybeCrash(s"fold_delta_$t")
        swapCompacted(spark, s"$dir/$t")
        maybeCrash(s"fold_swap_$t")
      }
      tombFiles.foreach(f => deleteFile(spark, f))
      dropLogDirIfEmpty(spark, s"$dir/tombstones")
      BulkOps.deletePath(spark, s"$dir/fold_commit")
      invalidateHandles(dir)
      true
    }
  }

  private def deleteFile(spark: SparkSession, file: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(file)
    val f = hadoopFs(spark, p)
    if (f.exists(p)) f.delete(p, false)
  }

  /** Drop a side-log dir once its data files are consumed: only
    * bookkeeping children (`_SUCCESS`) may remain, and the final delete
    * is NON-recursive — a racing lock-free tombstone append (or its
    * in-flight `_temporary`) keeps the dir alive, never gets deleted. */
  private def dropLogDirIfEmpty(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = hadoopFs(spark, p)
    if (f.exists(p) && listFlatDir(spark, path).isEmpty) {
      f.listStatus(p)
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && (n.startsWith("_") || n.startsWith("."))
        }
        .foreach(st => f.delete(st.getPath, false))
      try f.delete(p, false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** [[compactTables]]'s crash recovery: with a `fold_commit` journal
    * present the compacted copies are the committed truth — delete
    * exactly the journaled consumed files and complete every remaining
    * swap (roll forward); without one, leftover `_compact` copies beside
    * a live table are a fold that never committed and discard via the
    * legacy [[recoverSwap]] (base + deltas are intact — nothing lost).
    * Files appended AFTER the journal (late tombstones; post-takeover
    * delta segments) are not in it and survive untouched. */
  private[operators] def recoverFold(
      spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    if (BulkOps.fileExists(spark, s"$dir/fold_commit")) {
      val consumed = BulkOps.readPath(spark, s"$dir/fold_commit")
        .collect().map(r => (r.getString(0), r.getString(1)))
      consumed.foreach { case (_, f) => deleteFile(spark, f) }
      tables.foreach { t =>
        dropLogDirIfEmpty(spark, s"$dir/${t}_delta")
        if (BulkOps.fileExists(spark, s"$dir/$t") &&
            BulkOps.fileExists(spark, s"$dir/${t}_compact"))
          swapCompacted(spark, s"$dir/$t")
        else recoverSwap(spark, s"$dir/$t")
      }
      dropLogDirIfEmpty(spark, s"$dir/tombstones")
      BulkOps.deletePath(spark, s"$dir/fold_commit")
      invalidateHandles(dir)
    }

  /** Crash-safe swap of `<table>_compact` into `<table>`: the live table
    * renames ASIDE first (never deleted while it is the only copy), and
    * every rename result is CHECKED — a failed step aborts loudly before
    * anything (tombstone logs included) is cleaned, because acting on an
    * un-swapped compaction would silently resurrect deleted rows. */
  private[operators] def swapCompacted(spark: SparkSession, table: String): Unit = {
    require(BulkOps.renamePath(spark, table, s"${table}_old"),
      s"compaction aborted: could not move $table aside")
    require(BulkOps.renamePath(spark, s"${table}_compact", table),
      s"compaction aborted mid-swap: $table is at ${table}_old, " +
        s"the compacted copy at ${table}_compact — rerun to recover")
    BulkOps.deletePath(spark, s"${table}_old")
  }

  /** Recovery preamble for [[swapCompacted]]'s crash window: if the live
    * table is missing, complete the swap (compacted copy present) or
    * roll back (old copy present); stale leftovers beside a LIVE table
    * are superseded copies and are dropped so the next swap's renames
    * cannot silently no-op against an existing destination. */
  private[operators] def recoverSwap(spark: SparkSession, table: String): Unit = {
    handles.remove(table)
    handleSchemas.remove(table)
    // a recovered ids swap changed the sidecar's files outside
    // appendGuarded's refresh path — drop its inventory
    if (table.endsWith("/ids"))
      idsListingMemo.remove(table.stripSuffix("/ids"))
    val live = BulkOps.fileExists(spark, table)
    val old = BulkOps.fileExists(spark, s"${table}_old")
    val cmp = BulkOps.fileExists(spark, s"${table}_compact")
    if (!live) {
      if (cmp) require(BulkOps.renamePath(spark, s"${table}_compact", table),
        s"could not complete the crashed swap of $table")
      else if (old) require(BulkOps.renamePath(spark, s"${table}_old", table),
        s"could not roll back the crashed swap of $table")
      else throw new IllegalStateException(s"$table missing and no recovery copy found")
    }
    if (BulkOps.fileExists(spark, table)) {
      if (old && BulkOps.fileExists(spark, s"${table}_old"))
        BulkOps.deletePath(spark, s"${table}_old")
      if (cmp && BulkOps.fileExists(spark, s"${table}_compact"))
        BulkOps.deletePath(spark, s"${table}_compact")
    }
  }

  // ---- multi-table REBUILD (retrain-and-swap — the drift remedy) ----

  /** Atomically replace a SET of tables that are only consistent
    * together (a retrained quantizer plus postings coded against it):
    * every replacement is staged as `<t>_new` first, then a
    * `rebuild_commit` marker makes the swap roll-FORWARD on crash —
    * unlike per-table compaction (same rows, any mix of old/new tables
    * serves identically), a rebuild mid-swap mix would serve codes
    * against the wrong codebook, so recovery must land all-new, never
    * some-of-each.
    *
    *   1. [[recoverRebuild]] preamble (finish or discard a crashed one).
    *   2. `stage` writes every `<t>_new` (live tables untouched).
    *   3. write the `rebuild_commit` marker — the point of no return.
    *   4. per table: rename live aside, rename `_new` in, drop aside.
    *   5. drop the tombstone log (`postRebuild` semantics: the rebuild
    *      consumed it) and the marker.
    *
    * Crash before 3: next preamble discards the stale `_new` copies —
    * the live index never changed. Crash after 3: next preamble
    * completes every remaining swap from the surviving `_new` copies.
    * Between a mid-swap crash and that recovery, serves FAIL LOUDLY
    * (renamed-away table paths) rather than answer from a mixed
    * quantizer state — run any lifecycle entry point (compact/rebuild)
    * to recover before serving. */
  private[operators] def rebuildTables(
      spark: SparkSession, dir: String, tables: Seq[String])(stage: => Unit): Unit = {
    acquireLease(spark, dir)
    recoverRebuild(spark, dir, tables)
    // tombstone files consumed by THIS rebuild, listed before the stage:
    // deletes are lock-free appends, so a tombstone arriving later must
    // survive (it re-applies idempotently at the next compaction) — the
    // journal names exactly these files and only these delete post-swap
    val tombFiles = listFlatDir(spark, s"$dir/tombstones")
    stage
    tables.foreach(t => require(BulkOps.fileExists(spark, s"$dir/${t}_new"),
      s"rebuild stage must write $dir/${t}_new"))
    maybeCrash("rebuild_stage")
    BulkOps.writePath(
        { import spark.implicits._
          (Seq(("tables", tables.mkString(","))) ++
            tombFiles.map(f => ("tombstones", f))).toDF("log", "file") },
        SaveMode.Overwrite)
      .save(s"$dir/rebuild_commit")
    maybeCrash("rebuild_commit")
    tables.foreach { t =>
      swapInNew(spark, s"$dir/$t")
      maybeCrash(s"rebuild_$t")
    }
    // the rebuild re-derived everything from the CURRENT corpus: delta
    // segments of the replaced tables are superseded rows of a dead
    // index generation — drop them (no new ones can exist: appends held
    // the lease out during the rebuild and refuse while the journal is
    // present), and consume exactly the journaled tombstone files (a
    // late lock-free tombstone survives for the next compaction)
    tables.foreach { t =>
      if (BulkOps.fileExists(spark, s"$dir/${t}_delta"))
        BulkOps.deletePath(spark, s"$dir/${t}_delta")
    }
    tombFiles.foreach(f => deleteFile(spark, f))
    BulkOps.deletePath(spark, s"$dir/rebuild_commit")
    invalidateHandles(dir)
  }

  private def swapInNew(spark: SparkSession, table: String): Unit = {
    // idempotent under roll-forward: a table already swapped (live
    // present, no _new) is left alone
    if (BulkOps.fileExists(spark, s"${table}_new")) {
      if (BulkOps.fileExists(spark, table)) {
        require(BulkOps.renamePath(spark, table, s"${table}_aside"),
          s"rebuild aborted: could not move $table aside")
      }
      require(BulkOps.renamePath(spark, s"${table}_new", table),
        s"rebuild aborted mid-swap of $table — rerun to recover")
      BulkOps.deletePath(spark, s"${table}_aside")
    } else if (BulkOps.fileExists(spark, s"${table}_aside")) {
      if (BulkOps.fileExists(spark, table))
        // crashed between the in-rename and the aside-delete: the new
        // copy is live, the aside copy is superseded — drop it
        BulkOps.deletePath(spark, s"${table}_aside")
      else
        // live and _new both missing with an aside copy present can
        // only mean a half-run rename pair — restore the only copy
        require(BulkOps.renamePath(spark, s"${table}_aside", table),
          s"could not roll back the crashed rebuild swap of $table")
    }
  }

  /** [[rebuildTables]]'s crash recovery: with a `rebuild_commit` marker
    * present, complete every remaining swap (roll forward) and consume
    * the tombstone log; without one, discard stale `<t>_new` leftovers
    * (the rebuild never committed — the live index is the truth). */
  private[operators] def recoverRebuild(
      spark: SparkSession, dir: String, tables: Seq[String]): Unit = {
    if (BulkOps.fileExists(spark, s"$dir/rebuild_commit")) {
      val consumedTombs = BulkOps.readPath(spark, s"$dir/rebuild_commit")
        .filter(col("log") === "tombstones")
        .select("file").collect().map(_.getString(0))
      tables.foreach(t => swapInNew(spark, s"$dir/$t"))
      tables.foreach { t =>
        if (BulkOps.fileExists(spark, s"$dir/${t}_delta"))
          BulkOps.deletePath(spark, s"$dir/${t}_delta")
      }
      consumedTombs.foreach(f => deleteFile(spark, f))
      BulkOps.deletePath(spark, s"$dir/rebuild_commit")
      invalidateHandles(dir)
    } else {
      tables.foreach { t =>
        if (BulkOps.fileExists(spark, s"$dir/${t}_new"))
          BulkOps.deletePath(spark, s"$dir/${t}_new")
        if (BulkOps.fileExists(spark, s"$dir/${t}_aside") &&
            BulkOps.fileExists(spark, s"$dir/$t"))
          BulkOps.deletePath(spark, s"$dir/${t}_aside")
      }
    }
  }
}
