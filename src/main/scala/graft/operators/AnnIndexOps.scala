package graft.operators

import graft.Caching
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
  * full re-encode would produce (the [[appendToIndex]] encode, pinned by
  * an [[encodeAgainst]] differential). */
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
    encodeWithError(quantizedDims(vectors), centroids, cb)
      .select("center", "vec_id", "sub", "code")

  /** [[encodeAgainst]] over quantized dims `q` (vec_id, dim, xq), plus
    * the per-subspace quantization error the argmin already computes
    * (`err_q` = the winning code's residual distance) — the raw material
    * of the drift monitor: summed per vector and censused per center it
    * says how well the STORED quantizer still fits the data being coded.
    * Same plan as [[encodeAgainst]] (Catalyst prunes `err_q` when
    * unused). `q` is read twice, by the assignment and by the residual
    * projection: the caller prepares it (cached for a corpus build, a
    * local frame's dims for a bounded batch). */
  private def encodeWithError(q: DataFrame, centroids: DataFrame, cb: DataFrame): DataFrame = {
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

  /** Write the index under `dir` through the bulk seam: `centroids` and
    * `codebook` as single small tables, `postings` PARTITIONED BY COARSE
    * CENTER — each posting list is its own directory, so a probed search
    * reads only the probed lists (partition pruning is the 100-TB read
    * pattern; a 1000-executor scan touches nprobe·|q| directories, not
    * the corpus). A fresh build starts with
    * [[IndexLifecycle.beginBuild]]: the lease, then every artifact of the
    * dir's past life deleted. */
  def writeIndex(embeddings: DataFrame, dir: String,
      trainPct: Option[Int] = None): Unit = {
    IndexLifecycle.beginBuild(embeddings.sparkSession, dir)
    writeArtifacts(embeddings, dir, trainPct, "")
  }

  /** The five artifacts of `vectors` under `dir`, each table written at
    * `<table><suffix>` — the live names for a build, the staged ones
    * ([[IndexLifecycle.Staged]]) for a rebuild. */
  private def writeArtifacts(vectors: DataFrame, dir: String, trainPct: Option[Int],
      suffix: String): Unit = {
    val cents = coarseCentroids(vectors)
    val cb = PqOps.trainedResidualCodebook(vectors, trainPct)
    BulkOps.writePath(cents, SaveMode.Overwrite).save(s"$dir/centroids$suffix")
    BulkOps.writePath(cb, SaveMode.Overwrite).save(s"$dir/codebook$suffix")
    // one encode feeds both the postings write and the train-time error
    // census (cached so the second write reads the materialization)
    encoded(vectors, cents, cb) { coded =>
      BulkOps.writePath(coded.select("center", "vec_id", "sub", "code"), SaveMode.Overwrite)
        .partitionBy("center").save(s"$dir/postings$suffix")
      // the drift monitor's baseline: what "fits the quantizer" looked
      // like at train time, per posting list
      BulkOps.writePath(errorCensus(coded), SaveMode.Overwrite)
        .save(s"$dir/err_census$suffix")
    }
    // the membership sidecar ([[IndexLifecycle]]): every indexed vec_id,
    // the append-idempotence guard's pruned probe target
    IndexLifecycle.writeIds(vectors.sparkSession, dir, "vec_id",
      vectors.select("vec_id"), vectors.count(), suffix)
  }

  /** `body` over the corpus encoded with its per-subspace error: the
    * quantized dims and the encode each cached while `body` reads them
    * ([[graft.Caching.withCached]]), their entries dropped after it, so
    * a build leaves no entry of its own behind. */
  private def encoded[T](vectors: DataFrame, cents: DataFrame, cb: DataFrame)(
      body: DataFrame => T): T =
    Caching.withCached(quantizedDims(vectors)) { dims =>
      Caching.withCached(encodeWithError(dims, cents, cb))(body)
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
  def appendToIndex(spark: SparkSession, dir: String, newVectors: DataFrame): Unit = {
    // the quantizer tables are immutable between builds/rebuilds (both
    // of which invalidate), so the append can read them via the handles
    val cents = IndexLifecycle.servingHandle(spark, dir, "centroids")
    val cb = IndexLifecycle.servingHandle(spark, dir, "codebook")
    // the batch dims, cached for the encode's two reads; the entry ends
    // with the guarded write
    Caching.withCached(quantizedDims(newVectors)) { dims =>
      val tables = Seq(
        IndexLifecycle.GuardedTable("postings", col("sub") === 0, fresh =>
          BulkOps.writePath(
              encodeWithError(dims.join(broadcast(fresh), Seq("vec_id"), "left_semi"), cents, cb)
                .select("center", "vec_id", "sub", "code"),
              SaveMode.Append)
            // direct partitioned append, NOT a delta segment: posting
            // directories are the ~|centroids| coarse centers, so the
            // per-directory write fan-out is bounded and small (measured
            // flat at 100×) — a delta would buy nothing here
            .partitionBy("center").save(s"$dir/postings"),
          mutates = Seq("postings")))
      IndexLifecycle.appendGuarded(spark, dir, "vec_id", newVectors.select("vec_id"), tables)
    }
  }

  /** Every artifact a [[rebuildIndex]] replaces — the consistency unit
    * of the retrain-and-swap journal. */
  private val RebuildSet =
    Seq("centroids", "codebook", "postings", "err_census", "ids", "ids_meta")

  /** The drift REMEDY — retrain-and-swap, closing the maintenance loop
    * that [[quantizerDrift]] opens: when the alarm fires, the stored
    * index holds only CODES, so the fix is a fresh quantizer trained on
    * the CURRENT corpus (the caller supplies it — the index cannot
    * reconstruct vectors from codes), a full re-encode, and a crash-safe
    * swap of all six artifacts through the major fold's commit
    * ([[IndexLifecycle.rebuildTables]]): each is staged as
    * `<table>_compact`, one `fold_commit` journal names them, then the
    * checked swaps run. Unlike compaction (row-identical rewrite, any
    * old/new table mix serves the same answer), a rebuild's tables are
    * only consistent TOGETHER — postings coded against the new codebook
    * are garbage under the old centroids — so a crash rolls FORWARD:
    * before the journal the live index never changed; after it, the next
    * [[compactIndex]] or rebuild completes every remaining swap. A
    * crashed fold's journal is recovered first, so it can never swap its
    * copies over the rebuilt tables. Post-conditions: serving ≡ a fresh
    * [[writeIndex]] over the surviving corpus (the differential
    * AnnIndexSpec pins), the err_census baseline resets (so `drift_e4`
    * returns to ~10⁴ for in-distribution batches — the round-trip test),
    * the corpus minus the tombstoned ids the journal consumes is encoded
    * (like a compaction), and the ids sidecar is rewritten from it.
    * Reference analogue: the rebuild-then-swap discipline of
    * api/common/HBaseStaticHelper.java:41-78 (replaceTable with
    * backup). */
  def rebuildIndex(spark: SparkSession, dir: String, corpus: DataFrame,
      trainPct: Option[Int] = None): Unit =
    IndexLifecycle.rebuildTables(spark, dir, "vec_id", RebuildSet) { tomb =>
      val live = tomb.fold(corpus)(t => corpus.join(broadcast(t), Seq("vec_id"), "left_anti"))
      writeArtifacts(live, dir, trainPct, IndexLifecycle.Staged)
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
    * maintenance (reference: api/meta/TechnicalMeta.java:167-186).
    *
    * BOUNDED-BATCH CONTRACT (the [[servedTopK]] posture): the batch's
    * (vec_id, embedding) rows are collected once into a local frame
    * ([[graft.Caching.localFrame]]) — driver memory ≈ rows × (dim × 4 +
    * 8) B — and the encode reads their dims from it, so the call
    * registers no cache entry and takes no checkpoint. The collect is
    * the one eager action; the census is lazy. A batch too large for the
    * driver is censused in slices ([[batchCensus]]), whose summed
    * censuses [[driftReport]] takes. */
  def quantizerDrift(spark: SparkSession, dir: String, batch: DataFrame): DataFrame =
    driftReport(spark, dir, batchCensus(spark, dir, batch))

  /** The batch half of [[quantizerDrift]]: (center, n_batch, sum_batch,
    * max_batch) over the batch's vectors coded against the stored
    * quantizer. Each vector counts in one center, so the censuses of
    * disjoint slices sum (n, sum) and max (max) to the whole batch's. */
  private[graft] def batchCensus(spark: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val cents = IndexLifecycle.servingHandle(spark, dir, "centroids")
    val cb = IndexLifecycle.servingHandle(spark, dir, "codebook")
    errorCensus(encodeWithError(
        quantizedDims(Caching.localFrame(batch.select("vec_id", "embedding"))), cents, cb))
      .select(col("center"), col("n").as("n_batch"),
        col("sum_err").as("sum_batch"), col("max_err").as("max_batch"))
  }

  /** The report half of [[quantizerDrift]]: the batch census `bc` against
    * the stored train-time census. */
  private[graft] def driftReport(spark: SparkSession, dir: String, bc: DataFrame): DataFrame = {
    val train = IndexLifecycle.servingHandle(spark, dir, "err_census")
      .select(col("center").cast("long").as("center"), col("n").as("n_train"),
        col("sum_err").cast("decimal(38,0)").as("sum_train"), col("max_err").as("max_train"))
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
    // which can leave a file-less dir), read on the driver at the fixed
    // log schema
    IndexLifecycle.flatLogOpt(spark, dir, "tombstones", "vec_id")

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
    * three stored indexes: [[IndexLifecycle.compactTables]], whose
    * preamble first recovers a crashed fold or rebuild from its journal
    * (roll forward past it, or discard the staged copies), so compaction
    * never runs against a half-swapped quantizer set. */
  def compactIndex(spark: SparkSession, dir: String): Boolean =
    IndexLifecycle.compactTables(spark, dir, "vec_id", Seq(
      ("postings", Seq("center"), df =>
        df.withColumn("center", col("center").cast("long"))
          .select("center", "vec_id", "sub", "code"))))

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
    * (qid, vec_id, adist_q, rnk).
    *
    * BOUNDED-QUERY CONTRACT (the [[DedupIndexOps.servedDupes]] posture):
    * the query side lives on the driver whoever calls, so the serve
    * registers no cache entry and takes no checkpoint. Three eager
    * collects ([[graft.Caching.localFrame]]) run per call: the
    * (vec_id, embedding) queries (≈ |q| × (dim × 4 + 8) B), the probes
    * (|q|·nprobe rows) and the LUT (|q|·nprobe·M·|codebook| rows of 5
    * longs); the probed center set reads off the driver-held probes. The
    * returned ranking is lazy. */
  def servedTopK(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 2): DataFrame = {
    val cents = IndexLifecycle.servingHandle(spark, dir, "centroids")
    val cb = IndexLifecycle.servingHandle(spark, dir, "codebook")
    // the query dims feed both the probe ranking and the LUT
    val qd = quantizedDims(Caching.localFrame(queries.select("vec_id", "embedding")))
      .withColumnRenamed("vec_id", "qid")
    // the two bounded probe-side frames (|q|·nprobe probes;
    // |q|·nprobe·M·|codebook| LUT entries) are each re-referenced under
    // deep subplans (probes feeds the LUT and the posting fan-out), and
    // the serve's cost at fixture scale is plan depth, not data: holding
    // them on the driver truncates every downstream plan at a bounded
    // local relation
    val dist = qd.join(broadcast(cents), Seq("dim"))
      .withColumn("d", col("xq") - col("centroid_q"))
      .groupBy("qid", "center")
      .agg(sum(col("d") * col("d")).as("dist2_q"))
    val wp = Window.partitionBy("qid").orderBy(col("dist2_q"), col("center"))
    val probes = Caching.localFrame(dist.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("center")))
    val lut = Caching.localFrame(qd
      .join(broadcast(probes), Seq("qid"))
      .join(broadcast(cents), Seq("center", "dim"))
      .withColumn("sub", expr(s"(dim - 1) div ${PqOps.SubDims}"))
      .join(broadcast(cb), Seq("sub", "dim"))
      .withColumn("d", col("xq") - col("centroid_q") - col("rc"))
      .groupBy("qid", "center", "sub", "code")
      .agg(sum(col("d") * col("d")).as("lut_q")))
    // STATIC partition pruning, guaranteed by construction (the
    // servedDupes convention): the probed center set is a bounded app
    // materialization (≤ |q|·nprobe values, read off the driver-held
    // probes with no job) — pushed as an In filter on the RAW partition
    // column, before the long cast, so it lands in the scan's
    // PartitionFilters and the read touches exactly the probed posting
    // directories. The optimizer's DPP heuristic used to do this; it
    // stopped firing once the probe side became a materialized bounded
    // relation, and by-construction pruning is the stronger claim anyway.
    val probedCenters = probes.select("center")
      .collect().map(_.getLong(0)).distinct.toSeq
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
