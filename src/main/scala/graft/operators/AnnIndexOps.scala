package graft.operators

import graft.sources.BulkOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The PERSISTED IVFADC index — write-then-serve, the missing half of the
  * session-built ANN family: at 100 TB you cannot re-train codebooks per
  * query session, so the index artifacts (coarse centroids, residual
  * codebook, PQ-coded posting lists) are built ONCE, written through the
  * bulk seam, and every search reads the STORED tables with the corpus
  * vectors untouched (the [[RetrievalOps.bm25Index]] stored-postings
  * pattern, scaled up to the three-artifact quantizer; cf. the
  * reference's write-then-serve derived-state precedent,
  * api/meta/TechnicalMeta.java:167-186).
  *
  * Artifact shapes at 100 TB: `centroids` is k×dim rows and `codebook`
  * k'·M×(dim/M) — both broadcast-sized forever; `postings` is the only
  * corpus-sized table, |corpus|·M slim integer rows written PARTITIONED
  * BY COARSE CENTER, so a probe-n search prunes to n directories per
  * query (the posting-list read pattern) and never scans the rest.
  *
  * Exactness contract: [[encodeAgainst]] reproduces the session chain's
  * integer math and tie-breaking bit-for-bit (assignment argmin by
  * (dist2_q, center) = ivfAssignmentsRanked's window order; code argmin
  * by (dist2_q, code) = codesForRes's), so a served search returns
  * EXACTLY [[PqOps.ivfPqResidualTrainedTopK]]'s answer — equality IS the
  * oracle claim (`ann_served` reuses the fresh-build chain's DuckDB SQL,
  * the bm25_ingest convention), and ingest is additive: encoding a new
  * batch against the stored quantizer appends rows identical to what a
  * full re-encode would produce ([[appendBatch]] differential). */
object AnnIndexOps {

  /** The coarse quantizer, keyed for serving: (center, dim, centroid_q). */
  def coarseCentroids(embeddings: DataFrame): DataFrame =
    EmbeddingStatsOps.centroids(embeddings)
      .select(col("label").cast("long").as("center"), col("dim"), col("centroid_q"))

  /** Quantized (vec_id, dim, xq) rows for any (vec_id, embedding) frame —
    * the e6 floor-quantization every ANN operator shares. */
  private def quantizedDims(vectors: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "x")))
      .select(col("vec_id"), (col("dim0") + 1).as("dim"),
        floor(col("x").cast("double") * 1000000 + 0.5).cast("long").as("xq"))

  /** Encode vectors against a FIXED (stored) quantizer: coarse-assign by
    * exact integer squared distance to the broadcast centroids, then
    * PQ-code the residual per subspace against the broadcast codebook.
    * Returns posting rows (center, vec_id, sub, code). Row-independent by
    * construction — the property that makes the stored index appendable:
    * a batch encodes to the same rows whether it arrives alone or inside
    * a full rebuild. Nothing corpus-sized shuffles except the slim
    * (vec_id, dim, xq) stream into the two argmin aggregations. */
  def encodeAgainst(vectors: DataFrame, centroids: DataFrame, cb: DataFrame): DataFrame =
    encodeWithError(vectors, centroids, cb)
      .select("center", "vec_id", "sub", "code")

  /** [[encodeAgainst]] plus the per-subspace quantization error the
    * argmin already computes (`err_q` = the winning code's residual
    * distance) — the raw material of the drift monitor: summed per
    * vector and censused per center it says how well the STORED
    * quantizer still fits the data being coded. Same plan as
    * [[encodeAgainst]] (Catalyst prunes `err_q` when unused). */
  private[graft] def encodeWithError(
      vectors: DataFrame, centroids: DataFrame, cb: DataFrame,
      cacheDims: Boolean = true): DataFrame = {
    // cached: read by the assignment and again by the residual projection
    // (streaming monitors pass cacheDims=false — a per-micro-batch cache
    // entry would accumulate forever, the servedTopK convention)
    val q0 = quantizedDims(vectors)
    val q = if (cacheDims) graft.Caching.maybeCache(q0) else q0
    val assign = q.join(broadcast(centroids), Seq("dim"))
      .withColumn("d", col("xq") - col("centroid_q"))
      .groupBy("vec_id", "center")
      .agg(sum(col("d") * col("d")).as("dist2_q"))
      // min(struct) argmin = ivfAssignmentsRanked's (dist2_q, center) order
      .groupBy("vec_id")
      .agg(min(struct(col("dist2_q"), col("center"))).as("best"))
      .select(col("vec_id"), col("best.center").as("center"))
    val res = q.join(assign, "vec_id")
      .join(broadcast(centroids), Seq("center", "dim"))
      .select(col("vec_id"), col("center"), col("dim"),
        (col("xq") - col("centroid_q")).as("rq"))
      .withColumn("sub", expr(s"(dim - 1) div ${PqOps.SubDims}"))
    res.join(broadcast(cb), Seq("sub", "dim"))
      .withColumn("d", col("rq") - col("rc"))
      .groupBy("vec_id", "center", "sub", "code")
      .agg(sum(col("d") * col("d")).as("dist2_q"))
      // min(struct) argmin = codesForRes's (dist2_q, code) order
      .groupBy("vec_id", "center", "sub")
      .agg(min(struct(col("dist2_q"), col("code"))).as("best"))
      .select(col("center"), col("vec_id"), col("sub"),
        col("best.code").as("code"), col("best.dist2_q").as("err_q"))
  }

  /** Per-center quantization-error census over coded rows: how many
    * vectors each posting list holds and the total/worst per-vector
    * error. Center-count-sized (never corpus-sized); corpus-level sums
    * go through DECIMAL so a 100-TB census cannot overflow a long. */
  private[graft] def errorCensus(coded: DataFrame): DataFrame =
    coded
      .groupBy("vec_id", "center")
      .agg(sum(col("err_q")).as("verr"))
      .groupBy("center")
      .agg(
        count(lit(1)).as("n"),
        sum(col("verr").cast("decimal(38,0)")).as("sum_err"),
        max(col("verr")).as("max_err"))

  /** Build the three index artifacts from a corpus:
    * (centroids, codebook, postings). `trainPct` = Some(p) fits the
    * residual codebook on the stable p% md5 sample (the full corpus is
    * still encoded — only the fit shrinks, the production shape). */
  def buildIndex(embeddings: DataFrame, trainPct: Option[Int] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val cents = coarseCentroids(embeddings)
    val cb = PqOps.trainedResidualCodebook(embeddings, trainPct)
    (cents, cb, encodeAgainst(embeddings, cents, cb))
  }

  /** Ingest path: encode a NEW batch against the STORED quantizer — the
    * rows to append to `postings`. No re-training, no corpus re-scan;
    * [[AnnOps.ivfAssignIncremental]]'s maintenance shape completed with
    * the PQ codes. */
  def appendBatch(newVectors: DataFrame, centroids: DataFrame, cb: DataFrame): DataFrame =
    encodeAgainst(newVectors, centroids, cb)

  /** Write the index under `dir` through the bulk seam: `centroids` and
    * `codebook` as single small tables, `postings` PARTITIONED BY COARSE
    * CENTER — each posting list is its own directory, so a probed search
    * reads only the probed lists (partition pruning is the 100-TB read
    * pattern; a 1000-executor scan touches nprobe·|q| directories, not
    * the corpus). */
  def writeIndex(embeddings: DataFrame, dir: String,
      trainPct: Option[Int] = None): Unit = {
    // single-writer from the FIRST table write of the build (writeIds
    // renews the same lease)
    IndexLifecycle.acquireLease(embeddings.sparkSession, dir)
    val cents = coarseCentroids(embeddings)
    val cb = PqOps.trainedResidualCodebook(embeddings, trainPct)
    // one encode feeds both the postings write and the train-time error
    // census (cached so the second write reads the materialization)
    val coded = graft.Caching.maybeCache(encodeWithError(embeddings, cents, cb))
    BulkOps.writePath(cents, SaveMode.Overwrite).save(s"$dir/centroids")
    BulkOps.writePath(cb, SaveMode.Overwrite).save(s"$dir/codebook")
    BulkOps.writePath(coded.select("center", "vec_id", "sub", "code"), SaveMode.Overwrite)
      .partitionBy("center").save(s"$dir/postings")
    // the drift monitor's baseline: what "fits the quantizer" looked
    // like at train time, per posting list
    BulkOps.writePath(errorCensus(coded), SaveMode.Overwrite)
      .save(s"$dir/err_census")
    // the membership sidecar ([[IndexLifecycle]]): every indexed vec_id,
    // the append-idempotence guard's pruned probe target
    val spark = embeddings.sparkSession
    IndexLifecycle.writeIds(spark, dir, "vec_id",
      embeddings.select("vec_id"), embeddings.count())
    // a FRESH build invalidates any delete log from the dir's past life
    // (the scratch-dir reuse path would otherwise mask live rows)
    if (BulkOps.fileExists(spark, s"$dir/tombstones"))
      BulkOps.deletePath(spark, s"$dir/tombstones")
  }

  /** Ingest INTO the stored index: encode the batch against the stored
    * quantizer and APPEND the rows to the partitioned postings table —
    * new rows land inside their coarse centers' directories, existing
    * lists untouched, quantizer tables untouched. Serving from the dir
    * afterwards is identical to serving from an index rebuilt over the
    * union with the same (old-trained) quantizer — the
    * [[encodeAgainst]] row-independence made durable.
    *
    * IDEMPOTENT under redelivery via the [[IndexLifecycle]] protocol:
    * already-committed vec_ids skip (an at-least-once ingest pipeline
    * redelivering an indexed vector must not write a second code set,
    * which would double-score it in every ADC sum it reaches). The
    * steady-state guard is one ib-pruned sidecar probe — O(batch
    * directories) of slim id rows, replacing the former per-batch sub=0
    * slice read that scanned a 1/M column-pruned but still corpus-sized
    * projection on every append. After a crash, the suspect ids — and
    * only those — check the sub=0 slice. A tombstoned vec_id stays
    * skipped (and masked) until [[compactIndex]] drops it physically. */
  def appendToIndex(spark: SparkSession, dir: String, newVectors: DataFrame,
      knownIds: Option[Seq[Long]] = None): Unit = {
    // the quantizer tables are immutable between builds/rebuilds (both
    // of which invalidate), so the append can read them via the handles
    val cents = IndexLifecycle.servingHandle(spark, dir, "centroids")
    val cb = IndexLifecycle.servingHandle(spark, dir, "codebook")
    val tables = Seq(
      IndexLifecycle.GuardedTable("postings", col("sub") === 0, fresh =>
        BulkOps.writePath(
            appendBatch(
              newVectors.join(broadcast(fresh), Seq("vec_id"), "left_semi"), cents, cb),
            SaveMode.Append)
          // direct partitioned append, NOT a delta segment: posting
          // directories are the ~|centroids| coarse centers, so the
          // per-directory write fan-out is bounded and small (measured
          // flat at 100×) — a delta would buy nothing here
          .partitionBy("center").save(s"$dir/postings"),
        mutates = Seq("postings")))
    knownIds match {
      case Some(ids) => IndexLifecycle.appendGuardedSeq(spark, dir, "vec_id", ids, tables)
      case None =>
        IndexLifecycle.appendGuarded(spark, dir, "vec_id", newVectors.select("vec_id"), tables)
    }
  }

  /** The drift REMEDY — retrain-and-swap, closing the maintenance loop
    * that [[quantizerDrift]] opens: when the alarm fires, the stored
    * index holds only CODES, so the fix is a fresh quantizer trained on
    * the CURRENT corpus (the caller supplies it — the index cannot
    * reconstruct vectors from codes), a full re-encode, and a crash-safe
    * swap of all five artifacts via [[IndexLifecycle.rebuildTables]].
    * Unlike compaction (row-identical rewrite, any old/new table mix
    * serves the same answer), a rebuild's tables are only consistent
    * TOGETHER — postings coded against the new codebook are garbage
    * under the old centroids — so the swap is journaled (`rebuild_commit`
    * marker) and rolls FORWARD on crash: before the marker the live
    * index never changed; after it, recovery completes every remaining
    * swap. Post-conditions: serving ≡ a fresh [[writeIndex]] over the
    * surviving corpus (the differential AnnIndexSpec pins), the
    * err_census baseline resets (so `drift_e4` returns to ~10⁴ for
    * in-distribution batches — the round-trip test), tombstoned ids are
    * consumed (the rebuild encodes survivors only, like a compaction),
    * and the ids sidecar is rewritten from the corpus.
    * Reference analogue: the rebuild-then-swap discipline of
    * api/common/HBaseStaticHelper.java:41-78 (replaceTable with
    * backup). */
  /** Every artifact a [[rebuildIndex]] replaces — the consistency unit
    * of the retrain-and-swap journal. */
  private val RebuildSet =
    Seq("centroids", "codebook", "postings", "err_census", "ids", "ids_meta")

  def rebuildIndex(spark: SparkSession, dir: String, corpus: DataFrame,
      trainPct: Option[Int] = None): Unit = {
    val live = tombstonesOpt(spark, dir)
      .fold(corpus)(t => corpus.join(broadcast(t), Seq("vec_id"), "left_anti"))
    IndexLifecycle.rebuildTables(spark, dir, RebuildSet) {
      val cents = coarseCentroids(live)
      val cb = PqOps.trainedResidualCodebook(live, trainPct)
      val coded = graft.Caching.maybeCache(encodeWithError(live, cents, cb))
      BulkOps.writePath(cents, SaveMode.Overwrite).save(s"$dir/centroids_new")
      BulkOps.writePath(cb, SaveMode.Overwrite).save(s"$dir/codebook_new")
      BulkOps.writePath(coded.select("center", "vec_id", "sub", "code"), SaveMode.Overwrite)
        .partitionBy("center").save(s"$dir/postings_new")
      BulkOps.writePath(errorCensus(coded), SaveMode.Overwrite)
        .save(s"$dir/err_census_new")
      // the sidecar pair stages through a scratch dir: writeIds owns the
      // (ids, ids_meta) layout, and the staged copies swap in atomically
      // with the rest
      IndexLifecycle.writeIds(spark, s"$dir/rebuild_stage", "vec_id",
        live.select("vec_id"), live.count())
      require(BulkOps.renamePath(spark, s"$dir/rebuild_stage/ids", s"$dir/ids_new") &&
        BulkOps.renamePath(spark, s"$dir/rebuild_stage/ids_meta", s"$dir/ids_meta_new"),
        s"rebuild: could not stage the ids sidecar under $dir")
      BulkOps.deletePath(spark, s"$dir/rebuild_stage")
    }
    IndexLifecycle.clearMemos()
  }

  /** Quantizer-drift monitor — the maintenance alarm for an append-only
    * stored index: batches ingested via [[appendToIndex]] are coded
    * against a quantizer trained on the ORIGINAL corpus, so recall
    * degrades silently as the data distribution drifts. This reports,
    * per posting list, the batch's quantization-error census against the
    * STORED train-time census ([[writeIndex]]'s `err_census`):
    * `drift_e4` = batch mean error / train mean error ×10⁴ — ~10000
    * means the quantizer still fits; sustained growth says re-train and
    * rebuild. Read-only (no index mutation); the expensive side is one
    * encode of the BATCH, never a corpus re-scan. The write-then-serve
    * precedent this completes pairs derived-state writes with retention
    * maintenance (reference: api/meta/TechnicalMeta.java:167-186). */
  def quantizerDrift(spark: SparkSession, dir: String, batch: DataFrame,
      cacheDims: Boolean = true): DataFrame = {
    val cents = IndexLifecycle.servingHandle(spark, dir, "centroids")
    val cb = IndexLifecycle.servingHandle(spark, dir, "codebook")
    val train = IndexLifecycle.servingHandle(spark, dir, "err_census")
      .select(col("center").cast("long").as("center"), col("n").as("n_train"),
        col("sum_err").cast("decimal(38,0)").as("sum_train"), col("max_err").as("max_train"))
    val bc = errorCensus(encodeWithError(batch, cents, cb, cacheDims))
      .select(col("center"), col("n").as("n_batch"),
        col("sum_err").as("sum_batch"), col("max_err").as("max_batch"))
    // left from the stored census: every posting list reports, batchless
    // centers as n_batch = 0 (assignment can never invent a center that
    // is not in the stored centroid table)
    // drift from the INTEGER MEANS, not the raw sums: per-vector means
    // fit a long with 10⁴ headroom whatever the corpus size, whereas
    // sum_batch·n_train·10⁴ can overflow decimal(38,0) at extreme corpus
    // × drift combinations — i.e. the alarm would go dark (null) exactly
    // when drift is largest. Cost: drift precision ~1/mean, negligible
    // at real error magnitudes; the oracle mirrors the same arithmetic
    train.join(bc, Seq("center"), "left")
      .withColumn("mean_train", expr("sum_train DIV n_train"))
      .withColumn("mean_batch",
        when(col("n_batch") > 0, expr("sum_batch DIV n_batch")))
      .select(
        col("center"),
        col("n_train"),
        col("mean_train"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        col("mean_batch"),
        when(col("mean_batch").isNotNull && col("mean_train") > 0,
          expr("mean_batch * 10000L DIV mean_train")).as("drift_e4"),
        col("max_train"),
        col("max_batch"))
  }

  /** Delete vectors from the stored index — the HBase-delete shape:
    * deletion WRITES A TOMBSTONE (an appended (vec_id) row under
    * `tombstones/`), it does not rewrite posting lists. Serving masks
    * tombstoned postings with a broadcast anti-join; the physical rows
    * disappear at the next [[compactIndex]] (the major-compaction
    * analogue, exactly the reference's delete-then-compact lifecycle).
    * O(|ids|) write whatever the index size. */
  def deleteFromIndex(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    BulkOps.writePath(ids.select(col("vec_id").cast("long")), SaveMode.Append)
      .save(s"$dir/tombstones")

  private[graft] def tombstonesOpt(spark: SparkSession, dir: String): Option[DataFrame] =
    // file-based (a fold consumes exactly its journaled tombstone FILES,
    // which can leave a file-less dir no reader could infer schema from)
    IndexLifecycle.flatLogOpt(spark, dir, "tombstones").map(_.select("vec_id"))

  /** Major compaction of the postings table (and the ids sidecar):
    * physically drop tombstoned rows and clear the tombstone log. The
    * compacted table is written beside the live one (same center
    * partitioning, so DPP-pruned serves are unchanged after the swap),
    * then swapped in by checked filesystem rename — postings are never
    * half-rewritten in place. Serve results are IDENTICAL before and
    * after (the tombstone mask and the physical drop remove the same
    * rows — the differential AnnIndexSpec pins); what compaction buys is
    * the serve-time anti-join, the dead bytes, and re-ingestability of
    * the deleted ids. Returns false (no-op) when there is nothing to
    * compact. The stored train-time `err_census` is deliberately
    * untouched: it is the QUANTIZER's baseline, not a row census —
    * resetting it is [[rebuildIndex]]'s job. Machinery shared across all
    * three stored indexes: [[IndexLifecycle.compactTables]]. */
  def compactIndex(spark: SparkSession, dir: String): Boolean = {
    // a crashed REBUILD recovers first (roll forward past its commit
    // marker, or discard its staged copies) — compaction must never run
    // against a half-swapped quantizer set
    IndexLifecycle.recoverRebuild(spark, dir, RebuildSet)
    IndexLifecycle.compactTables(spark, dir, "vec_id", Seq(
      ("postings", Seq("center"), df =>
        df.withColumn("center", col("center").cast("long"))
          .select("center", "vec_id", "sub", "code"))))
  }

  /** Read the stored artifacts back. The partition column comes back as
    * the discovery-inferred integer type — normalized to the written
    * LONG so served joins are type-identical to fresh ones. */
  def readIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val cents = IndexLifecycle.servingHandle(spark, dir, "centroids")
    val cb = IndexLifecycle.servingHandle(spark, dir, "codebook")
    val postings = IndexLifecycle.servingHandle(spark, dir, "postings")
      .withColumn("center", col("center").cast("long"))
    (cents, cb, postings)
  }

  /** Serve a top-k search from the STORED index: queries arrive as a
    * bounded (vec_id, embedding) frame (app input — at serve time there
    * is no corpus table in the plan at all); the probe set and the
    * per-probed-center residual LUT are built from the broadcast
    * centroid/codebook tables; the only big read is the probed posting
    * lists. Output = [[PqOps.ivfPqResidualTrainedTopK]]'s exactly:
    * (qid, vec_id, adist_q, rnk). */
  def servedTopK(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 2, cacheQueryDims: Boolean = true): DataFrame = {
    val cents = IndexLifecycle.servingHandle(spark, dir, "centroids")
    val cb = IndexLifecycle.servingHandle(spark, dir, "codebook")
    // cached: the query dims feed both the probe ranking and the LUT.
    // Streaming serve passes cacheQueryDims=false — each micro-batch's
    // plan is distinct and never reused, so a per-batch cache entry
    // would accumulate forever; recomputing the bounded batch's dims
    // twice is the cheaper trade there.
    val qdRaw = quantizedDims(queries).withColumnRenamed("vec_id", "qid")
    val qd = if (cacheQueryDims) graft.Caching.maybeCache(qdRaw) else qdRaw
    // pin the two bounded probe-side frames (|q|·nprobe probes;
    // |q|·nprobe·M·|codebook| LUT entries): each is re-referenced under
    // deep subplans (probes feeds the LUT and the posting fan-out), and
    // the serve's cost at fixture scale is plan depth — ~17 tiny jobs
    // plus ~0.6 s of AQE re-planning per serve, not data. Pinning
    // truncates every downstream plan at a materialized bounded frame.
    // Streaming serves (cacheQueryDims=false) get an eager
    // localCheckpoint (GC-released, no per-trigger CacheManager entry —
    // the servedDupes convention); bounded serves go through the cache
    // lifecycle like the sibling qd frame.
    val pin: DataFrame => DataFrame =
      if (cacheQueryDims) graft.Caching.pinForConsistency
      else df => df.localCheckpoint(true)
    val dist = qd.join(broadcast(cents), Seq("dim"))
      .withColumn("d", col("xq") - col("centroid_q"))
      .groupBy("qid", "center")
      .agg(sum(col("d") * col("d")).as("dist2_q"))
    val wp = Window.partitionBy("qid").orderBy(col("dist2_q"), col("center"))
    val probes = pin(dist.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("center")))
    val lut = pin(qd
      .join(broadcast(probes), Seq("qid"))
      .join(broadcast(cents), Seq("center", "dim"))
      .withColumn("sub", expr(s"(dim - 1) div ${PqOps.SubDims}"))
      .join(broadcast(cb), Seq("sub", "dim"))
      .withColumn("d", col("xq") - col("centroid_q") - col("rc"))
      .groupBy("qid", "center", "sub", "code")
      .agg(sum(col("d") * col("d")).as("lut_q")))
    // STATIC partition pruning, guaranteed by construction (the
    // servedDupes convention): the probed center set is a bounded app
    // materialization (≤ |q|·nprobe values, a local read off the pinned
    // probes frame) — pushed as an In filter on the RAW partition
    // column, before the long cast, so it lands in the scan's
    // PartitionFilters and the read touches exactly the probed posting
    // directories. The optimizer's DPP heuristic used to do this; it
    // stopped firing once the probe side became a materialized bounded
    // relation, and by-construction pruning is the stronger claim anyway.
    val probedCenters = probes.select("center").distinct()
      .collect().map(_.getLong(0).toInt).toSeq
    val postings = IndexLifecycle.servingHandle(spark, dir, "postings")
      .filter(col("center").isin(probedCenters: _*))
      .withColumn("center", col("center").cast("long"))
    // tombstone mask (deleteFromIndex log, if any): applied ABOVE the
    // probe join so the pruned posting scan is untouched — the
    // anti-join only ever sees the probed lists' rows
    val probed0 = postings.join(broadcast(probes), Seq("center"))
    val probed = tombstonesOpt(spark, dir)
      .fold(probed0)(t => probed0.join(broadcast(t), Seq("vec_id"), "left_anti"))
    val scored = probed
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "center", "sub", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("lut_q")).as("adist_q"))
    val w = Window.partitionBy("qid").orderBy(col("adist_q"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }
}
