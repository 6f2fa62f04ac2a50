package graft.contract

import graft.operators.{AnnIndexOps, DedupIndexOps, IndexLifecycle, RetrievalOps}
import graft.sources.Tables
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
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

  /** One stored-index family.
    *
    * @param table     the fixture input table
    * @param corpus    the rows every build indexes; None: the whole table
    * @param probe     the lazily read, corpus-proportional probe of the
    *                  build-serve shapes; None: they serve `queries`
    * @param queries   the bounded probe rows, collected once per fixture;
    *                  None: the serve answers its default query
    * @param batch     the bounded append batch, collected once per fixture
    * @param halfSalt  salt of the stable md5 half the ingest shape builds
    *                  on (the rest arrives by append)
    * @param deleted   the corpus rows the deleted shape tombstones
    * @param fold      the compaction the ingest shape runs after its bulk
    *                  append; None: it serves the appended delta as is
    */
  final class Family[P](
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
      val append: (SparkSession, String, DataFrame, Option[Seq[Long]]) => Unit,
      val delete: (SparkSession, String, DataFrame) => Unit,
      val fold: Option[(SparkSession, String) => Boolean],
      val serve: (SparkSession, String, DataFrame) => DataFrame)(
      implicit val rowEncoder: Encoder[(Long, P)]) {
    def corpusOf(t: DataFrame): DataFrame = corpus.fold(t)(c => t.filter(c))
  }

  val Dedup = new Family[String]("dedup", "doc_id", "text", Tables.documents,
    corpus = Some(!batchPred),
    probe = Some(batchPred),
    queries = Some(batchPred && col("doc_id") < ServeOnlyIdCap),
    batch = batchPred && col("doc_id") < ServeOnlyIdCap,
    halfSalt = Some("ing|"),
    deleted = col("doc_id") % 10 === 3,
    write = (docs, dir) => DedupIndexOps.writeIndex(docs, dir),
    append = (s, dir, docs, ids) => DedupIndexOps.appendToIndex(s, dir, docs, ids),
    delete = DedupIndexOps.deleteFromIndex,
    fold = Some(DedupIndexOps.compactIndex),
    serve = (s, dir, batch) => DedupIndexOps.servedDupes(s, dir, batch))(
    Encoders.product[(Long, String)])

  /** The served query set is the first 10 vectors; the tombstones spare
    * it, so every query keeps its own row. */
  val Ann = new Family[Seq[Float]]("ann", "vec_id", "embedding", Tables.embeddings,
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
    serve = (s, dir, queries) => AnnIndexOps.servedTopK(s, dir, queries))(
    Encoders.product[(Long, Seq[Float])])

  val Bm25 = new Family[String]("bm25", "doc_id", "text", Tables.documents,
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
    serve = (s, dir, _) => RetrievalOps.bm25ServedTopK(s, dir))(
    Encoders.product[(Long, String)])

  // ---- the shared shapes ----------------------------------------------

  /** Build the corpus index, serve the family's probe from it. */
  def served(f: Family[_], spark: SparkSession, sfDir: String): DataFrame = {
    val t = f.table(spark, sfDir)
    val fx = fixture(spark, s"${f.name}_served", sfDir, t)(d => f.write(f.corpusOf(t), d))
    f.serve(spark, fx.dir, probe(f, spark, t, fx))
  }

  /** [[served]] against an index prebuilt once, probed with the bounded
    * queries: the per-query serve cost alone. */
  def serveOnly(f: Family[_], spark: SparkSession, sfDir: String): DataFrame = {
    val t = f.table(spark, sfDir)
    val fx = fixture(spark, s"${f.name}_serve_only", sfDir, t, prebuilt = true)(d =>
      f.write(f.corpusOf(t), d))
    f.serve(spark, fx.dir, queries(f, spark, t, fx))
  }

  /** The append path end to end: build on the stable md5 half of the
    * corpus, append the other half, serve. Equals [[served]] for every
    * family (the same oracle by design). */
  def ingest(f: Family[_], spark: SparkSession, sfDir: String): DataFrame = {
    val t = f.table(spark, sfDir)
    val corpus = f.corpusOf(t)
    val fx = fixture(spark, s"${f.name}_ingest", sfDir, t) { d =>
      f.write(corpus.filter(half(f)), d)
      f.append(spark, d, corpus.filter(!half(f)), None)
      // the production cadence after a bulk append is a fold, which
      // returns the serve to fully pruned partitioned reads
      f.fold.foreach(_(spark, d))
    }
    f.serve(spark, fx.dir, probe(f, spark, t, fx))
  }

  /** The delete path end to end: build, tombstone the family's deleted
    * rows, serve through the mask. The oracle is the survivor corpus. */
  def deleted(f: Family[_], spark: SparkSession, sfDir: String): DataFrame = {
    val t = f.table(spark, sfDir)
    val corpus = f.corpusOf(t)
    val fx = fixture(spark, s"${f.name}_deleted", sfDir, t) { d =>
      f.write(corpus, d)
      f.delete(spark, d, corpus.filter(f.deleted).select(f.id))
    }
    f.serve(spark, fx.dir, probe(f, spark, t, fx))
  }

  /** Append the bounded batch under fresh pass-offset ids to an index
    * prebuilt once, and return the batch's ids read back out of the
    * sidecar ([[IndexLifecycle.committedProbe]]) mapped to the original
    * ids — an append that lost ids shrinks it. */
  def appendOnly[P](f: Family[P], spark: SparkSession, sfDir: String): DataFrame = {
    val t = f.table(spark, sfDir)
    val fx = fixture(spark, s"${f.name}_append_only", sfDir, t, prebuilt = true)(d =>
      f.write(f.corpusOf(t), d))
    val offset = AppendIdBase * fx.passes.incrementAndGet()
    val rows = fx.rows(t, f.batch, f)
    val batch = frame(f, spark, rows.map { case (id, p) => (id + offset, p) })
    f.append(spark, fx.dir, batch, Some(rows.map(_._1 + offset)))
    IndexLifecycle.committedProbe(spark, fx.dir, f.id, batch.select(f.id))
      .select((col(f.id) % AppendIdBase).as(f.id))
  }

  /** The stable md5 half of the family's ids, salted by `halfSalt`. */
  private def half(f: Family[_]): Column = {
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
    val (fx, pass, rows) = gateOnlyBatch(spark, sfDir, "dedup_gate_only")
    val batch = frame(Dedup, spark, rows)
      .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1g" + pass))
    DedupIndexOps.gateAndIngest(spark, fx.dir, batch)
  }

  /** The streaming twin of [[dedupGateOnly]]: one trigger of
    * [[graft.streaming.StreamingOps.dedupIngestGateStream]], tokens
    * suffixed `s<pass>` so the two twins' appends stay content-disjoint. */
  def dedupGateStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (fx, pass, rows) = gateOnlyBatch(spark, sfDir, "dedup_gate_stream")
    val batch = rows.map { case (id, text) => (id, text.replaceAll("(\\S+)", "$1s" + pass)) }
    import spark.implicits._
    oneTrigger(spark, batch, Seq("doc_id", "text"))((df, ckpt, emit) =>
      graft.streaming.StreamingOps.dedupIngestGateStream(df, fx.dir, ckpt, emit))
  }

  private def gateOnlyBatch(spark: SparkSession, sfDir: String,
      shape: String): (Fixture, Long, Seq[(Long, String)]) = {
    val t = Dedup.table(spark, sfDir)
    val fx = fixture(spark, shape, sfDir, t, prebuilt = true)(d =>
      Dedup.write(Dedup.corpusOf(t), d))
    val pass = fx.passes.incrementAndGet()
    (fx, pass, fx.rows(t, Dedup.batch, Dedup).map { case (id, text) =>
      (id + AppendIdBase * pass, text) })
  }

  /** The maintenance alarm end to end: index trained on the stable md5
    * half, the held-out half plays the appended batch,
    * [[AnnIndexOps.quantizerDrift]] reports its error census. */
  def annDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Ann.table(spark, sfDir)
    val fx = fixture(spark, "ann_drift", sfDir, t)(d => Ann.write(t.filter(half(Ann)), d))
    AnnIndexOps.quantizerDrift(spark, fx.dir, t.filter(!half(Ann)))
  }

  /** The streaming twin of [[serveOnly]] for ANN: one trigger of
    * [[graft.streaming.StreamingOps.annServeStream]] over the bounded
    * queries; the serve is stateless, so it equals the batch serve. */
  def annServeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Ann.table(spark, sfDir)
    val fx = fixture(spark, "ann_serve_stream", sfDir, t, prebuilt = true)(d => Ann.write(t, d))
    import spark.implicits._
    oneTrigger(spark, fx.rows(t, Ann.queries.get, Ann), Seq("vec_id", "embedding"))(
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
    private var collected: Seq[_] = _

    /** The rows of `t` matching `pred`, collected once — bounded app
      * input, not a scan inside every timed call. */
    def rows[P](t: DataFrame, pred: Column, f: Family[P]): Seq[(Long, P)] = synchronized {
      if (collected == null)
        collected = t.filter(pred).select(f.id, f.payload).as(f.rowEncoder).collect().toSeq
      collected.asInstanceOf[Seq[(Long, P)]]
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

  private def probe(f: Family[_], spark: SparkSession, t: DataFrame, fx: Fixture): DataFrame =
    f.probe.fold(queries(f, spark, t, fx))(p => t.filter(p))

  private def queries[P](f: Family[P], spark: SparkSession, t: DataFrame,
      fx: Fixture): DataFrame =
    f.queries.fold(spark.emptyDataFrame)(q => frame(f, spark, fx.rows(t, q, f)))

  /** Driver rows as a local frame (a LocalRelation: no scan). */
  private def frame[P](f: Family[P], spark: SparkSession, rows: Seq[(Long, P)]): DataFrame =
    spark.createDataset(rows)(f.rowEncoder).toDF(f.id, f.payload)

  /** Run one MemoryStream trigger through `start`, collecting every
    * emitted report into one local frame. A fresh checkpoint per call —
    * a reused one would replay-skip the batch as already committed. */
  private def oneTrigger[T: Encoder](spark: SparkSession, data: Seq[T], cols: Seq[String])(
      start: (DataFrame, String, (DataFrame, Long) => Unit) =>
        org.apache.spark.sql.streaming.StreamingQuery): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    @volatile var schema: org.apache.spark.sql.types.StructType = null
    val q = start(input.toDF().toDF(cols: _*), allocate("graft_stream_ck"), (rep, _) => {
      val rows = rep.collect()
      buf.synchronized { schema = rep.schema; buf ++= rows }
    })
    try { input.addData(data); q.processAllAvailable() } finally q.stop()
    require(schema != null, "the trigger must have emitted a report")
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(
        buf.toSeq).asJava), schema)
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
