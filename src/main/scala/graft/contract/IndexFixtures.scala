package graft.contract

import graft.operators.{AnnIndexOps, DedupIndexOps, IndexLifecycle, RetrievalOps}
import graft.sources.Tables
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** The stored-index fixture cycle behind the contract queries: the
  * build / append / delete / serve shapes of the three persisted indexes
  * (dedup signatures, ANN postings, BM25 postings), written once over a
  * [[Family]] value that holds each index's differences as data. The
  * operator objects keep only their library API (DataFrames and paths);
  * everything that takes a fixture dir (`sfDir`) lives here.
  *
  * ## The fixture memo
  *
  * Each (shape, sfDir) owns one [[Fixture]]: a temp index dir, the
  * bounded batch rows collected from the input once, and the pass
  * counter of the append shapes. The entry carries the file listing
  * (names, sizes, mtimes) of the input table it was built from; a call
  * that finds a different listing replaces the entry, so an input
  * rewritten in place is rebuilt and re-collected instead of served
  * stale — reuse across a session's calls with explicit invalidation
  * (Incremental Top-K Similarity Search in Interactive Data Analysis
  * Sessions, EDBT 2020). A source with no file listing (a name-addressed
  * connector) is never invalidated.
  *
  * Postures:
  *   - build-serve shapes (served, ingest, deleted, gate, drift) build
  *     once under `graft.cache.enabled`; with caching off (the ScaleBench
  *     posture) every call rebuilds into the fixture's one reused dir, so
  *     scale runs time the full build-write-serve cycle without
  *     accumulating copies. Builds must be idempotent under overwrite.
  *   - prebuilt shapes (serve-only, append-only, gate-only, the stream
  *     twins) build once whatever the posture, so a min-of-passes
  *     measurement isolates the serve or append path.
  *   - append shapes offset each pass's batch ids by `pass ×`
  *     [[AppendIdBase]], so every pass appends genuinely fresh ids.
  *
  * Every allocated dir is deleted by one JVM shutdown hook.
  */
object IndexFixtures {

  /** Id-space stride between append passes, far above any fixture
    * corpus id. */
  val AppendIdBase: Long = 1L << 40

  /** The stable md5 10% bucket of the dedup fixture is "the arriving
    * batch", the other 90% "the indexed corpus" (the
    * [[RetrievalOps.bm25IngestTopK]] production shape, on the
    * [[graft.operators.CurationOps.splitAssign]] hash). */
  private[graft] val ServeBucketPct = 10L

  private[graft] def batchPred: Column = graft.functions.TextFunctions.stableHash60(
    col("doc_id").cast("string")) % 100L < ServeBucketPct

  /** The bounded dedup batch: the 10% bucket capped to a fixed id range,
    * ~200 docs whatever the corpus size — a fixed-size batch against a
    * growing index is the scaling claim of the serve-only, append-only
    * and gate-only shapes. */
  private[graft] val ServeOnlyIdCap = 2000L

  /** Most input rows one serve or drift call takes. Those entry points
    * hold their batch side on the driver, so a corpus-proportional input
    * is served in slices ([[inSlices]]): per dedup call ≈ SliceRows ×
    * (K+1) × 8 B of signatures (≈ 2 MB at K = 12) plus its candidate
    * pairs, per drift call ≈ SliceRows × (dim × 4 + 8) B of vectors. */
  private[graft] val SliceRows = 20000

  /** One stored-index family.
    *
    * @param table     the fixture input table
    * @param corpus    the rows every build indexes; None: the whole table
    * @param probe     the corpus-proportional probe of the build-serve
    *                  shapes, served in slices; None: they serve `queries`
    * @param queries   the bounded probe rows, collected once per fixture;
    *                  None: the serve answers its default query
    * @param batch     the bounded append batch, collected once per fixture
    * @param halfSalt  salt of the stable md5 half the ingest shape builds
    *                  on (the rest arrives by append)
    * @param deleted   the corpus rows the deleted shape tombstones
    * @param fold      the compaction the ingest shape runs after its bulk
    *                  append; None: it serves the appended delta as is
    */
  final class Family(
      val name: String,
      val id: String,
      val payload: String,
      val table: (SparkSession, String) => DataFrame,
      val corpus: Option[Column],
      val probe: Option[Column],
      val queries: Option[Column],
      val batch: Column,
      val halfSalt: Option[String],
      val deleted: Column,
      val write: (DataFrame, String) => Unit,
      val append: (SparkSession, String, DataFrame) => Unit,
      val delete: (SparkSession, String, DataFrame) => Unit,
      val fold: Option[(SparkSession, String) => Boolean],
      val serve: (SparkSession, String, DataFrame) => DataFrame) {
    def corpusOf(t: DataFrame): DataFrame = corpus.fold(t)(c => t.filter(c))
  }

  val Dedup = new Family("dedup", "doc_id", "text", Tables.documents,
    corpus = Some(!batchPred),
    probe = Some(batchPred),
    queries = Some(batchPred && col("doc_id") < ServeOnlyIdCap),
    batch = batchPred && col("doc_id") < ServeOnlyIdCap,
    halfSalt = Some("ing|"),
    deleted = col("doc_id") % 10 === 3,
    write = (docs, dir) => DedupIndexOps.writeIndex(docs, dir),
    append = DedupIndexOps.appendToIndex,
    delete = DedupIndexOps.deleteFromIndex,
    fold = Some(DedupIndexOps.compactIndex),
    serve = (s, dir, batch) => DedupIndexOps.servedDupes(s, dir, batch))

  /** The served query set is the first 10 vectors; the tombstones spare
    * it, so every query keeps its own row. */
  val Ann = new Family("ann", "vec_id", "embedding", Tables.embeddings,
    corpus = None,
    probe = None,
    queries = Some(col("vec_id") < 10),
    batch = col("vec_id") < 200,
    halfSalt = None,
    deleted = col("vec_id") % 10 === 3 && col("vec_id") >= 10,
    write = (emb, dir) => AnnIndexOps.writeIndex(emb, dir),
    append = AnnIndexOps.appendToIndex,
    delete = AnnIndexOps.deleteFromIndex,
    fold = None,
    serve = (s, dir, queries) => AnnIndexOps.servedTopK(s, dir, queries))

  val Bm25 = new Family("bm25", "doc_id", "text", Tables.documents,
    corpus = None,
    probe = None,
    queries = None,
    batch = col("doc_id") < 200,
    halfSalt = Some("bing|"),
    deleted = col("doc_id") % 10 === 3,
    write = RetrievalOps.bm25WriteIndex,
    append = RetrievalOps.bm25AppendDocs,
    delete = RetrievalOps.bm25DeleteDocs,
    fold = None,
    serve = (s, dir, _) => RetrievalOps.bm25ServedTopK(s, dir))

  // ---- the shared shapes ----------------------------------------------

  /** Build the corpus index, serve the family's probe from it. */
  def served(f: Family, spark: SparkSession, sfDir: String): DataFrame = {
    val t = f.table(spark, sfDir)
    val fx = fixture(spark, s"${f.name}_served", sfDir, t)(d => f.write(f.corpusOf(t), d))
    serveProbe(f, spark, t, fx)
  }

  /** [[served]] against an index prebuilt once, probed with the bounded
    * queries: the per-query serve cost alone. */
  def serveOnly(f: Family, spark: SparkSession, sfDir: String): DataFrame = {
    val t = f.table(spark, sfDir)
    val fx = fixture(spark, s"${f.name}_serve_only", sfDir, t, prebuilt = true)(d =>
      f.write(f.corpusOf(t), d))
    f.serve(spark, fx.dir, queries(f, spark, t, fx))
  }

  /** The append path end to end: build on the stable md5 half of the
    * corpus, append the other half, serve. Equals [[served]] for every
    * family (the same oracle by design). */
  def ingest(f: Family, spark: SparkSession, sfDir: String): DataFrame = {
    val t = f.table(spark, sfDir)
    val corpus = f.corpusOf(t)
    val fx = fixture(spark, s"${f.name}_ingest", sfDir, t) { d =>
      f.write(corpus.filter(half(f)), d)
      f.append(spark, d, corpus.filter(!half(f)))
      // the production cadence after a bulk append is a fold, which
      // returns the serve to fully pruned partitioned reads
      f.fold.foreach(_(spark, d))
    }
    serveProbe(f, spark, t, fx)
  }

  /** The delete path end to end: build, tombstone the family's deleted
    * rows, serve through the mask. The oracle is the survivor corpus. */
  def deleted(f: Family, spark: SparkSession, sfDir: String): DataFrame = {
    val t = f.table(spark, sfDir)
    val corpus = f.corpusOf(t)
    val fx = fixture(spark, s"${f.name}_deleted", sfDir, t) { d =>
      f.write(corpus, d)
      f.delete(spark, d, corpus.filter(f.deleted).select(f.id))
    }
    serveProbe(f, spark, t, fx)
  }

  /** Append the bounded batch under fresh pass-offset ids to an index
    * prebuilt once, and return the batch's ids read back out of the
    * sidecar ([[IndexLifecycle.committedProbe]]) mapped to the original
    * ids — an append that lost ids shrinks it. */
  def appendOnly(f: Family, spark: SparkSession, sfDir: String): DataFrame = {
    val t = f.table(spark, sfDir)
    val fx = fixture(spark, s"${f.name}_append_only", sfDir, t, prebuilt = true)(d =>
      f.write(f.corpusOf(t), d))
    val offset = AppendIdBase * fx.passes.incrementAndGet()
    val batch = fx.local(t, f.batch, f).withColumn(f.id, col(f.id) + offset)
    f.append(spark, fx.dir, batch)
    IndexLifecycle.committedProbe(spark, fx.dir, f.id, batch.select(f.id))
      .select((col(f.id) % AppendIdBase).as(f.id))
  }

  /** The stable md5 half of the family's ids, salted by `halfSalt`. */
  private def half(f: Family): Column = {
    val key = col(f.id).cast("string")
    graft.functions.TextFunctions.stableHash60(
      f.halfSalt.fold(key)(s => concat(lit(s), key))) % 100L < 50L
  }

  // ---- single-family shapes ---------------------------------------------

  /** [[DedupIndexOps.gateAndIngest]] end to end, deterministic per call:
    * the gate mutates its index, so each call hardlink-copies the
    * pristine corpus index into the working dir ([[resetFromPristine]])
    * and gates the 10% bucket against exactly the corpus. With caching
    * off the pristine build reruns per call (the full
    * build-gate-append cycle). */
  def dedupGate(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Dedup.table(spark, sfDir)
    val fx = fixture(spark, "dedup_gate", sfDir, t)(d =>
      Dedup.write(Dedup.corpusOf(t), s"$d/pristine"))
    resetFromPristine(spark, s"${fx.dir}/pristine", s"${fx.dir}/work")
    DedupIndexOps.gateAndIngest(spark, s"${fx.dir}/work", t.filter(batchPred))
  }

  /** The marginal cost of the gate: the bounded batch under pass-offset
    * ids with every token suffixed `g<pass>` — content disjoint from the
    * corpus and every earlier pass, its internal duplicate structure
    * kept — gated into an index prebuilt once. */
  def dedupGateOnly(spark: SparkSession, sfDir: String): DataFrame = {
    val (fx, batch) = gateOnlyBatch(spark, sfDir, "dedup_gate_only", "g")
    DedupIndexOps.gateAndIngest(spark, fx.dir, batch)
  }

  /** The streaming twin of [[dedupGateOnly]]: one trigger of
    * [[graft.streaming.StreamingOps.dedupIngestGateStream]], tokens
    * suffixed `s<pass>` so the two twins' appends stay content-disjoint. */
  def dedupGateStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (fx, batch) = gateOnlyBatch(spark, sfDir, "dedup_gate_stream", "s")
    import spark.implicits._
    oneTrigger(spark, batch.as[(Long, String)].collect().toSeq, Seq("doc_id", "text"))(
      (df, ckpt, emit) =>
        graft.streaming.StreamingOps.dedupIngestGateStream(df, fx.dir, ckpt, emit))
  }

  /** The bounded dedup batch of a gate-only shape as a local frame:
    * pass-offset ids, every token suffixed `<tag><pass>`. */
  private def gateOnlyBatch(spark: SparkSession, sfDir: String,
      shape: String, tag: String): (Fixture, DataFrame) = {
    val t = Dedup.table(spark, sfDir)
    val fx = fixture(spark, shape, sfDir, t, prebuilt = true)(d =>
      Dedup.write(Dedup.corpusOf(t), d))
    val pass = fx.passes.incrementAndGet()
    (fx, fx.local(t, Dedup.batch, Dedup)
      .withColumn("doc_id", col("doc_id") + AppendIdBase * pass)
      .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1" + tag + pass)))
  }

  /** The maintenance alarm end to end: index trained on the stable md5
    * half, the held-out half plays the appended batch, and
    * [[AnnIndexOps.quantizerDrift]]'s two halves report its error census:
    * the held-out half is censused in slices, and the slice censuses sum
    * to the batch census the report reads. */
  def annDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Ann.table(spark, sfDir)
    val fx = fixture(spark, "ann_drift", sfDir, t)(d => Ann.write(t.filter(half(Ann)), d))
    driftInSlices(spark, fx.dir, t.filter(!half(Ann)).select(Ann.id, Ann.payload))
  }

  /** [[AnnIndexOps.quantizerDrift]] over `batch` censused in slices of at
    * most `sliceRows` vectors, the slice censuses summed. */
  private[graft] def driftInSlices(spark: SparkSession, dir: String, batch: DataFrame,
      sliceRows: Int = SliceRows): DataFrame = {
    val censuses = inSlices(spark, batch, sliceRows)(AnnIndexOps.batchCensus(spark, dir, _))
    AnnIndexOps.driftReport(spark, dir, censuses.groupBy("center").agg(
      sum("n_batch").as("n_batch"), sum("sum_batch").as("sum_batch"),
      max("max_batch").as("max_batch")))
  }

  /** The streaming twin of [[serveOnly]] for ANN: one trigger of
    * [[graft.streaming.StreamingOps.annServeStream]] over the bounded
    * queries; the serve is stateless, so it equals the batch serve. */
  def annServeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Ann.table(spark, sfDir)
    val fx = fixture(spark, "ann_serve_stream", sfDir, t, prebuilt = true)(d => Ann.write(t, d))
    import spark.implicits._
    oneTrigger(spark, fx.local(t, Ann.queries.get, Ann).as[(Long, Seq[Float])].collect().toSeq,
      Seq("vec_id", "embedding"))(
      (df, ckpt, emit) => graft.streaming.StreamingOps.annServeStream(df, fx.dir, ckpt, emit))
  }

  /** Drop every fixture (the on-disk [[graft.Caching.release]]
    * analogue) and the library's per-dir memos. */
  def clear(): Unit = {
    fixtures.clear()
    IndexLifecycle.clearMemos()
  }

  // ---- the memo ---------------------------------------------------------

  /** One (shape, sfDir) fixture, valid for one input file listing. */
  private final class Fixture(val listing: Seq[(String, Long, Long)], val dir: String) {
    var built = false
    val passes = new AtomicLong()
    private var collected: DataFrame = _

    /** The (id, payload) rows of `t` matching `pred` as a local frame,
      * collected once — bounded app input, not a scan inside every timed
      * call. */
    def local(t: DataFrame, pred: Column, f: Family): DataFrame = synchronized {
      if (collected == null)
        collected = graft.Caching.localFrame(t.filter(pred).select(f.id, f.payload))
      collected
    }
  }

  private val fixtures = new ConcurrentHashMap[(String, String), Fixture]()

  private def fixture(spark: SparkSession, shape: String, sfDir: String, input: DataFrame,
      prebuilt: Boolean = false)(build: String => Unit): Fixture = {
    val now = listing(spark, input)
    val fx = fixtures.compute((shape, sfDir), (_, old) =>
      if (old != null && old.listing == now) old else new Fixture(now, allocate(s"graft_$shape")))
    fx.synchronized {
      if (!fx.built || (!prebuilt && !spark.conf.get(graft.Caching.EnabledKey, "true").toBoolean)) {
        build(fx.dir)
        fx.built = true
      }
    }
    fx
  }

  /** (path, size, mtime) of every file the input reads, sorted. */
  private def listing(spark: SparkSession, input: DataFrame): Seq[(String, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    input.inputFiles.sorted.toSeq.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      (f, st.getLen, st.getModificationTime)
    }
  }

  /** The build-serve shapes' serve: the bounded queries in one call, or
    * the corpus-proportional probe in slices. */
  private def serveProbe(f: Family, spark: SparkSession, t: DataFrame, fx: Fixture): DataFrame =
    f.probe.fold(f.serve(spark, fx.dir, queries(f, spark, t, fx)))(p =>
      inSlices(spark, t.filter(p).select(f.id, f.payload))(f.serve(spark, fx.dir, _)))

  /** `call` over `input` in slices of at most `sliceRows` rows, its
    * answers collected into one local frame. Rows reach the driver one
    * partition at a time (`toLocalIterator`), so it holds one slice and
    * the answers, never the whole input. Equals one call over all of
    * `input` when each answer row depends on one input row (the dedup
    * serve; the drift census, once the slice censuses are summed). */
  private[graft] def inSlices(spark: SparkSession, input: DataFrame,
      sliceRows: Int = SliceRows)(call: DataFrame => DataFrame): DataFrame = {
    val it = scala.jdk.CollectionConverters.IteratorHasAsScala(input.toLocalIterator()).asScala
      .grouped(sliceRows)
    val answers = (if (it.hasNext) it else Iterator(Seq.empty)).map { rows =>
      val out = call(graft.Caching.localFrame(spark, rows.toSeq, input.schema))
      (out.schema, out.collect().toSeq)
    }.toVector
    graft.Caching.localFrame(spark, answers.flatMap(_._2), answers.head._1)
  }

  private def queries(f: Family, spark: SparkSession, t: DataFrame,
      fx: Fixture): DataFrame =
    f.queries.fold(spark.emptyDataFrame)(q => fx.local(t, q, f))

  /** Run one MemoryStream trigger through `start`, collecting every
    * emitted report into one local frame. A fresh checkpoint per call —
    * a reused one would replay-skip the batch as already committed. */
  private def oneTrigger[T: Encoder](spark: SparkSession, data: Seq[T], cols: Seq[String])(
      start: (DataFrame, String, (DataFrame, Long) => Unit) =>
        org.apache.spark.sql.streaming.StreamingQuery): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val q = start(input.toDF().toDF(cols: _*), allocate("graft_stream_ck"),
      (rep, _) => reports.add(graft.Caching.localFrame(rep)))
    try { input.addData(data); q.processAllAvailable() } finally q.stop()
    require(!reports.isEmpty, "the trigger must have emitted a report")
    scala.jdk.CollectionConverters.IterableHasAsScala(reports).asScala.reduce(_ union _)
  }

  // ---- temp dirs --------------------------------------------------------

  private val allocated = ConcurrentHashMap.newKeySet[String]()

  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      allocated.forEach(d => deleteRecursively(java.nio.file.Paths.get(d)))))
    true
  }

  /** A fresh temp dir, deleted at JVM exit. */
  private def allocate(prefix: String): String = {
    require(hookInstalled)
    val d = Files.createTempDirectory(prefix).toString
    allocated.add(d)
    d
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val children = Files.list(p)
        try children.forEach(deleteRecursively) finally children.close()
      }
      Files.deleteIfExists(p)
    }

  /** Replace `dst` with a file-level copy of `src`, through the Hadoop
    * filesystem of the paths (the BulkOps addressing). On local
    * filesystems the parquet data files are HARDLINKED instead of
    * copied — safe because no lifecycle operation rewrites a parquet
    * file in place (the [[IndexLifecycle]] invariant); the one
    * in-place-rewritten file (`lease`) and every other non-parquet file
    * is byte-copied. Driver-side file moves; it never computes over
    * data. */
  def resetFromPristine(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val from = new org.apache.hadoop.fs.Path(src)
    val to = new org.apache.hadoop.fs.Path(dst)
    val srcFs = from.getFileSystem(conf)
    val dstFs = to.getFileSystem(conf)
    if (dstFs.exists(to)) dstFs.delete(to, true)
    dstFs.mkdirs(to.getParent)
    if (isLocal(srcFs) && isLocal(dstFs))
      linkTree(java.nio.file.Paths.get(from.toUri.getPath),
        java.nio.file.Paths.get(to.toUri.getPath))
    else require(
      org.apache.hadoop.fs.FileUtil.copy(srcFs, from, dstFs, to,
        /* deleteSource = */ false, /* overwrite = */ true, conf),
      s"resetFromPristine: copy $src -> $dst failed")
    // the copy replaced dst's files out-of-band of the lifecycle — any
    // open serving handle on dst is now stale
    IndexLifecycle.invalidateHandles(dst)
  }

  private def isLocal(fs: org.apache.hadoop.fs.FileSystem): Boolean = {
    val s = fs.getUri.getScheme
    s == null || s == "file"
  }

  private def linkTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val children = Files.list(src)
    try children.forEach { c =>
      val t = dst.resolve(c.getFileName)
      if (Files.isDirectory(c)) linkTree(c, t)
      else if (c.getFileName.toString.endsWith(".parquet"))
        // per-file fallback to a byte copy: hardlinks fail across mounts
        // (EXDEV — tmp dirs can span filesystems) and on filesystems
        // without link support; a copy is always correct, just slower
        try Files.createLink(t, c)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(c, t)
        }
      else Files.copy(c, t)
    } finally children.close()
  }
}
