package graft.streaming

import graft.operators.CompactionOps
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming re-expression of the reference's continuous loops
  * (SURVEY.md §2.9). Each transform takes a (possibly streaming)
  * DataFrame, so the logic is testable in batch and runs unchanged under
  * readStream → writeStream.
  *
  * The reference's TTL caches become watermark + dropDuplicatesWithin-
  * Watermark: bounded state with event-time expiry — the streaming
  * equivalent of "don't recompact the same region within a day"
  * (`api/compactor/CompactorServer.java:47-57`, 350-entry 1-day cache),
  * except it scales past 350 entries because state lives in the state
  * store, not an LRU map.
  */
object StreamingOps {

  /** The append-mode `foreachBatch` sink every stream below starts:
    * `body` gets each micro-batch and its id, and `checkpoint` makes the
    * query restartable. */
  private def foreachBatchSink(input: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => body(batch, batchId) }
      .start()

  /** O-54 infinite compactor: metric snapshots → weighted candidates →
    * per-region dedup within the no-recompact window. Input needs
    * (region_id, snapshot_ts, size_mb, max_file_mb, file_count, locality);
    * a `server` column, when present, is carried through so the output
    * composes directly with [[pacedActionSink]]. Candidate selection is
    * CompactionOps.candidates — ONE definition of the weight/threshold
    * logic for the batch and streaming paths. */
  def compactionStream(
      snapshots: DataFrame,
      noRecompactWindow: String = "1 day",
      borderWeight: Double = CompactionOps.DefaultBorderWeight,
      minSizeMb: Long = CompactionOps.DefaultMinSizeMb): DataFrame = {
    val keep = Seq("region_id", "snapshot_ts", "weight") ++
      (if (snapshots.columns.contains("server")) Seq("server") else Nil)
    CompactionOps.candidates(snapshots, borderWeight, minSizeMb)
      .withWatermark("snapshot_ts", noRecompactWindow)
      .dropDuplicatesWithinWatermark("region_id")
      .select(keep.map(col): _*)
  }

  /** O-55 distributor suppression: processed-table set cleared every 6 h
    * (`api/distributor/DistributorService.java:34-87`) — per-table dedup
    * within a 6-hour watermark. */
  def distributorStream(tableWeights: DataFrame, suppression: String = "6 hours"): DataFrame =
    tableWeights
      .withWatermark("snapshot_ts", suppression)
      .dropDuplicatesWithinWatermark("table_name")

  /** O-56 health checker: probe results folded to per-interval
    * availability (AND over probe booleans, `api/analyze/
    * ClusterAvailabilityObject.java:18-32`) on a processing cadence of
    * check.interval (900 s → 15-minute windows). */
  def canaryFold(probes: DataFrame, interval: String = "15 minutes"): DataFrame =
    probes
      .withWatermark("probe_ts", interval)
      .groupBy(window(col("probe_ts"), interval), col("op_type"))
      .agg(min(col("ok")).as("available"), count(lit(1)).as("n_probes"))
      .select(col("window.start").as("interval_start"), col("op_type"),
        col("available"), col("n_probes"))

  /** O-54 backpressure / admission control: per micro-batch, emit at most
    * `maxPerServer` highest-weight actions PER SERVER (the reference
    * budget is per-queue — `compactor.recalculate.region.count`, mirrored
    * by the batch twin CompactionOps.plan's per-server window), and none
    * at all for servers whose queue depths exceed the reference borders
    * (`api/compactor/CompactorServer.java:244-267`: pause while
    * compactionQueue > 11 or flushQueue > 31). `queueDepths` is the
    * external metrics feed (O-12) and may carry several snapshots per
    * server — it is reduced to the worst (max) depth per server before
    * the join, so stale lower readings can't defeat the backpressure and
    * the join never fans out. `emit` receives the micro-batch id so the
    * caller can make its action emission idempotent under foreachBatch
    * replay; `checkpoint` makes the query itself restartable (an
    * action-emitting sink without a durable checkpoint either replays or
    * drops actions after a driver restart). */
  def pacedActionSink(
      candidates: DataFrame,
      queueDepths: DataFrame,
      emit: (DataFrame, Long) => Unit,
      checkpoint: String,
      maxPerServer: Int = 15,
      maxCompactionQueue: Int = 11,
      maxFlushQueue: Int = 31): StreamingQuery = {
    val worst = queueDepths
      .groupBy("server")
      .agg(
        max(col("compaction_queue")).as("compaction_queue"),
        max(col("flush_queue")).as("flush_queue"))
    foreachBatchSink(candidates, checkpoint) { (batch, batchId) =>
      val byServer = org.apache.spark.sql.expressions.Window
        .partitionBy("server").orderBy(col("weight").desc, col("region_id"))
      val admitted = batch
        .join(worst, Seq("server"), "left")
        .filter(
          coalesce(col("compaction_queue"), lit(0)) <= maxCompactionQueue &&
            coalesce(col("flush_queue"), lit(0)) <= maxFlushQueue)
        .withColumn("__rk", row_number().over(byServer))
        .filter(col("__rk") <= maxPerServer)
        .drop("__rk", "compaction_queue", "flush_queue")
      emit(admitted, batchId)
    }
  }

  /** O-57 topology snapshotter as a stream: each micro-batch of placement
    * observations lands in the date-partitioned history via the O-8
    * writer's IDEMPOTENT per-batch variant — batch N overwrites its own
    * `batch_id=N/` subtree, so a foreachBatch replay after a crash
    * rewrites identical data instead of appending duplicates. Retention
    * stays a partition-prune read (BulkOps). Replaces the reference's
    * hourly loop + HBase row lease (`api/meta/TechnicalMetaUpdater.java:
    * 29-54` — lock dropped: a single streaming query owns the sink). */
  def topologySnapshotStream(
      observations: DataFrame,
      destPath: String,
      checkpoint: String): StreamingQuery =
    foreachBatchSink(observations, checkpoint) { (batch, batchId) =>
      graft.sources.BulkOps.writeTopologySnapshotBatch(batch, destPath, batchId)
    }

  /** Streaming sessionization: the events_sessions batch query under a
    * watermark — session_window state is bounded by event time. */
  def sessionStream(events: DataFrame, gap: String = "5 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Streaming face of [[graft.operators.EventsOps.valueDrift]]'s daily
    * aggregate: per-(type, day) exact-decimal counts and sums under a
    * watermark, so the quality monitor runs AT ingest instead of in a
    * nightly batch. Emits (event_type, day, n, mean_e4) — the
    * day-over-day delta stays a batch/lag concern downstream (a
    * cross-window join the sink side does over the tiny result table).
    * The DECIMAL sum keeps stream and batch bit-identical whatever order
    * micro-batches arrive in (differential-tested). */
  def valueDriftStream(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("sv"))
      .select(col("event_type"), to_date(col("w.start")).as("day"), col("n"),
        floor(col("sv").cast("double") / col("n") * 10000 + 0.5).cast("long").as("mean_e4"))

  /** Streaming heavy-hitter monitor — the stream twin of
    * [[graft.operators.DataLayoutOps.skewCensus]]: per 10-minute window,
    * keys whose row count crosses `threshold`, emitted when the
    * watermark closes the window. The skew alarm a pipeline runs ON the
    * ingest feed, so a hot key is known before the nightly join plans
    * around it. State is one count per (window, key) under the
    * watermark — map-side partials, eviction on window close. */
  def heavyHitterStream(
      events: DataFrame, keyCol: String,
      threshold: Long = 5L, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes").as("w"), col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") >= threshold)
      .select(unix_micros(col("w.start")).as("window_start_us"), col("key"), col("n_rows"))

  /** At-ingest media QC gate — the stream twin of
    * [[graft.operators.MultimodalOps.mediaDimsMix]]'s format census:
    * each arriving payload is magic-sniffed and header-parsed with the
    * SAME codegen'd expressions as the batch path
    * ([[graft.operators.MultimodalOps.sniffStatus]] — a stateless
    * per-row projection, so stream and batch can never disagree on a
    * payload), then rolled into a per-window per-status count under the
    * watermark. A scraped-media feed runs this ON ingest: a corrupt or
    * unknown-format spike is known within a window, not after the
    * nightly batch. State is |statuses|·|open windows| counters —
    * bounded whatever the feed rate; the payload bytes never enter
    * state. Input needs (media binary, ingest_ts). */
  def mediaGateStream(media: DataFrame, watermark: String = "1 hour"): DataFrame = {
    import graft.operators.MultimodalOps
    media
      .withWatermark("ingest_ts", watermark)
      // walk offsets materialize once per row in their own projection
      // (the jpegDimsStruct re-evaluation note); window width follows
      // the watermark like the sibling ops, so a shorter watermark
      // means proportionally faster spike detection
      .select(col("ingest_ts") +: col("media") +: MultimodalOps.walkOffsets(col("media")): _*)
      .select(col("ingest_ts"), MultimodalOps.sniffStatus(
        col("media"), col("sof_off"), col("fmt_off")).as("status"))
      .groupBy(window(col("ingest_ts"), watermark).as("w"), col("status"))
      .agg(count(lit(1)).as("n"))
      .select(col("status"), unix_micros(col("w.start")).as("window_start_us"), col("n"))
  }

  /** Streaming ingest dedup for a document feed: keep the first document
    * per content fingerprint within the dedup window. The streaming face
    * of DedupOps.exact / incrDedup — the fingerprint is the SAME head key
    * (md5 of the first 5 tokens) the batch twins use, so a corpus
    * ingested through this gate and one deduped retrospectively agree on
    * what counts as a duplicate. State is bounded by the watermark
    * (unlike a driver-side seen-set, which would grow with the corpus),
    * so the same query ingests 100 TB/day with per-key state eviction. */
  def ingestDedupStream(docs: DataFrame, window: String = "1 day"): DataFrame = {
    import graft.functions.TextFunctions.tokens
    docs
      .withColumn("fp", md5(array_join(slice(tokens(col("text")), 1, 5), " ")))
      .withWatermark("ingest_ts", window)
      .dropDuplicatesWithinWatermark("fp")
  }

  case class CappedDoc(doc_id: Long, source: String, rk: Int)

  /** Streaming per-source document cap: admit at most `cap` docs per
    * source across the stream's lifetime — CurationOps.sourceCaps as an
    * ingest-time gate. Keyed counter state (one Int per source, NOT per
    * doc), so state size tracks |sources|, never corpus size; the batch
    * twin re-ranks retrospectively while this admits greedily in arrival
    * order — the two agree on counts, not necessarily on survivors. */
  def sourceCapStream(docs: Dataset[(Long, String)], cap: Int = 15): Dataset[CappedDoc] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, rows: Iterator[(Long, String)], state: GroupState[Int]) => {
          val already = state.getOption.getOrElse(0)
          val k = cap - already
          if (k <= 0) Iterator.empty // capped source: drain nothing, state unchanged
          else {
            // deterministic within a batch (admit in doc_id order) via a
            // bounded k-smallest heap: a hot source near its cap costs
            // O(n log k) and O(k) memory, never a full-group sort/buffer
            val heap = scala.collection.mutable.PriorityQueue.empty[Long] // max-heap
            rows.foreach { r =>
              val id = r._1
              if (heap.size < k) heap.enqueue(id)
              else if (id < heap.head) { heap.dequeue(); heap.enqueue(id) }
            }
            val admitted = heap.toSeq.sorted
            state.update(already + admitted.size)
            admitted.iterator.zipWithIndex.map { case (id, i) =>
              CappedDoc(id, source, already + i + 1)
            }
          }
        })
  }

  case class BandedDoc(
      doc_id: Long, simhash: Long, band: Int, band_val: Long, ingest_ts: java.sql.Timestamp)
  case class SimEntry(doc_id: Long, simhash: Long, ts_ms: Long)
  case class NearDupHit(doc_id: Long, dup_of: Long, band: Int, hamming: Int)

  /** Streaming SimHash near-dup gate: flag each arriving doc against
    * everything already ingested — the ingest-time twin of
    * DedupOps.simhashDedup, sharing its banding (4×16-bit bands over the
    * same 64-bit fingerprint; rowSimhash is test-pinned bit-identical to
    * the batch aggregation) so the stream and a retrospective batch pass
    * agree on what counts as a near-dup.
    *
    * Shape at scale: the simhash is a narrow per-row expression (no
    * shuffle), each doc fans out to exactly 4 band rows, and state is
    * keyed by (band, band_val) holding at most `maxPerBucket`
    * fingerprints — 16 bytes each, so total state is bounded by
    * 4·|buckets|·maxPerBucket, independent of corpus size. A bucket that
    * fills to `maxPerBucket` goes dark (admits and emits nothing — the
    * streaming analogue of capBuckets dropping degenerate buckets; a
    * stream cannot retract already-emitted pairs, so it stops pairing
    * instead). A pair colliding in several bands emits one hit per band
    * — `band` is in the output, consumers wanting pair-level output
    * dedup on (doc_id, dup_of). In-batch arrivals are processed in
    * doc_id order so replays are deterministic.
    *
    * State eviction: with `retention = Some(horizon)` the input must
    * carry an `ingest_ts` event-time column; the stream watermarks on it
    * and fingerprints older than the watermark are EVICTED — an arriving
    * doc only pairs against corpus ingested within the horizon, matching
    * the watermark semantics of [[ingestDedupStream]], and a bucket
    * whose entries all age out is removed wholesale via an event-time
    * timeout. Eviction is what keeps widened-band state bounded in
    * production (4×16-bit bands make the bucket-count ceiling 4·65536;
    * retention bounds the entries inside each) and lets a once-dark
    * bucket readmit after its degenerate burst expires. With
    * `retention = None` (fixture/differential mode) state never expires,
    * matching the batch operator over a bounded corpus. */
  def nearDupStream(
      docs: DataFrame,
      maxHamming: Int = 3,
      maxPerBucket: Int = graft.operators.DedupOps.MaxBandBucket.toInt,
      retention: Option[String] = None): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    val timed = retention.isDefined
    val withTs = retention match {
      case Some(horizon) => docs.withWatermark("ingest_ts", horizon)
      case None => docs.withColumn("ingest_ts", lit(new java.sql.Timestamp(0L)))
    }
    val bandStructs = (0 until 4).map { b =>
      struct(
        col("doc_id"), col("simhash"), lit(b).as("band"),
        expr(s"shiftright(simhash, ${b * 16}) & 65535").as("band_val"))
    }
    val timeoutConf =
      if (timed) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    withTs
      .withColumn("simhash", graft.operators.DedupOps.rowSimhash(col("text")))
      .filter(col("simhash").isNotNull)
      // ingest_ts stays a TOP-LEVEL column: its watermark tag must reach
      // the stateful operator, and attribute metadata does not survive a
      // round-trip through a struct
      .select(col("ingest_ts"), explode(array(bandStructs: _*)).as("r"))
      .select(col("r.doc_id"), col("r.simhash"), col("r.band"), col("r.band_val"),
        col("ingest_ts"))
      .as[BandedDoc]
      .groupByKey(r => (r.band, r.band_val))
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (key: (Int, Long), rows: Iterator[BandedDoc], state: GroupState[Seq[SimEntry]]) => {
          if (state.hasTimedOut) {
            // watermark passed every entry's timestamp: the whole bucket
            // is stale (set below as max live ts), drop it
            state.remove()
            Iterator.empty
          } else {
            val wm = if (timed) state.getCurrentWatermarkMs() else Long.MinValue
            val prior = state.getOption.getOrElse(Seq.empty)
            val buf = scala.collection.mutable.ArrayBuffer.empty[SimEntry]
            buf ++= prior.filter(_.ts_ms >= wm) // evict aged-out fingerprints
            val evicted = buf.size != prior.size
            val hits = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
            val admitted0 = buf.size
            rows.toArray.sortBy(_.doc_id).foreach { r =>
              if (buf.size < maxPerBucket) {
                buf.foreach { e =>
                  if (e.doc_id != r.doc_id) {
                    val d = java.lang.Long.bitCount(e.simhash ^ r.simhash)
                    if (d <= maxHamming) hits += NearDupHit(r.doc_id, e.doc_id, key._1, d)
                  }
                }
                buf += SimEntry(r.doc_id, r.simhash, r.ingest_ts.getTime)
              }
            }
            if (buf.isEmpty) { if (evicted) state.remove() }
            else {
              if (buf.size != admitted0 || evicted) state.update(buf.toSeq)
              if (timed) {
                // fire once the watermark passes the newest live entry —
                // by then every entry is older than the watermark
                val maxTs = buf.map(_.ts_ms).max
                state.setTimeoutTimestamp(math.max(maxTs, wm + 1))
              }
            }
            hits.iterator
          }
        })
  }

  /** Score documents AT INGEST under a pre-trained bigram LM
    * (CurationOps.trainBigramLm) — the serve-time half of the CCNet-style
    * perplexity filter, and the streaming section's stream-static join
    * pattern: the unbounded doc stream joins the bounded count tables
    * (static side; Spark broadcasts or re-plans it per microbatch, no
    * stream state for the join itself). Bigrams come from a per-row
    * higher-order explode (no window — windows can't run on a stream),
    * unknown context/bigram falls back to the add-one floor
    * (c12 -> 0, c1 -> 0), and the per-doc fold is a watermark-bounded
    * windowed aggregation, emitted when the doc's ingest window closes.
    * Scoring the training corpus itself reproduces bigramFluency exactly
    * (differential-tested). */
  def fluencyScoreStream(
      docs: DataFrame,
      lm: graft.operators.CurationOps.BigramLm,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val toks = tokens(col("text"))
    val n = size(toks)
    // guard BEFORE sequence(): n < 2 would step the sequence DOWN
    val idx = when(n >= lit(2), sequence(lit(1), n - 1))
      .otherwise(array().cast("array<int>"))
    val bgs = docs
      .withColumn("__bg", explode(transform(idx, i =>
        struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2")))))
      .select(col("doc_id"), col("ingest_ts"),
        col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    bgs
      .withWatermark("ingest_ts", watermark)
      .join(lm.bi, Seq("w1", "w2"), "left")
      .join(lm.uni, Seq("w1"), "left")
      .withColumn("p_e9",
        floor((coalesce(col("c12"), lit(0L)) + 1) /
          (coalesce(col("c1"), lit(0L)) + lit(lm.vocabSize)).cast("double") * 1000000000L + 0.5)
          .cast("long"))
      .groupBy(window(col("ingest_ts"), watermark), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_e9")).as("p_sum_e9"))
      .select(col("doc_id"), col("n_bigrams"),
        floor(col("p_sum_e9").cast("double") / col("n_bigrams") / 100000L + 0.5)
          .cast("long").as("fluency_e4"))
  }

  /** Score-at-ingest twin of operators/LmOps.trigramBackoff: each arriving
    * doc scored under an offline-trained stupid-backoff [[graft.operators
    * .LmOps.TrigramLm]] via stream-static left joins (the count tables are
    * the static side; unseen n-grams fall down the 0.4-backoff ladder
    * exactly as in batch — same CASE, same fixed-point arithmetic, so
    * scoring the training corpus reproduces trigramBackoff bit-for-bit,
    * differential-tested). Per-doc fold is a watermark-bounded windowed
    * aggregation like [[fluencyScoreStream]]; state is bounded by the
    * watermark, the LM by its own top-K pruning at scale. */
  def backoffScoreStream(
      docs: DataFrame,
      lm: graft.operators.LmOps.TrigramLm,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val toks = tokens(col("text"))
    val n = size(toks)
    // guard BEFORE sequence(): n < 3 would step the sequence DOWN
    val idx = when(n >= lit(3), sequence(lit(1), n - 2))
      .otherwise(array().cast("array<int>"))
    val tris = docs
      .withColumn("__tg", explode(transform(idx, i =>
        struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"),
          element_at(toks, i + 2).as("w3")))))
      .select(col("doc_id"), col("ingest_ts"),
        col("__tg.w1").as("w1"), col("__tg.w2").as("w2"), col("__tg.w3").as("w3"))
    val sE9 =
      when(col("ct").isNotNull,
        floor(col("ct") / col("c12").cast("double") * 1000000000L + 0.5).cast("long"))
        .when(col("c23").isNotNull,
          floor(col("c23") * lit(400000000.0) / col("c2") + 0.5).cast("long"))
        .when(col("c3").isNotNull,
          floor(col("c3") * lit(160000000.0) / lit(lm.nTokens) + 0.5).cast("long"))
        .otherwise(lit(0L))
    val lvl =
      when(col("ct").isNotNull, "tri")
        .when(col("c23").isNotNull, "bi")
        .when(col("c3").isNotNull, "uni")
        .otherwise("oov")
    tris
      .withWatermark("ingest_ts", watermark)
      .join(lm.tri,
        col("w1") === col("ta") && col("w2") === col("tb") && col("w3") === col("tc"), "left")
      .join(lm.bi.as("ctx"), col("w1") === col("ctx.ba") && col("w2") === col("ctx.bb"), "left")
      .join(lm.bi.as("b2"), col("w2") === col("b2.ba") && col("w3") === col("b2.bb"), "left")
      .join(lm.uni.as("u2"), col("w2") === col("u2.u"), "left")
      .join(lm.uni.as("u3"), col("w3") === col("u3.u"), "left")
      .select(col("doc_id"), col("ingest_ts"),
        col("ct"), col("ctx.cb").as("c12"), col("b2.cb").as("c23"),
        col("u2.cu").as("c2"), col("u3.cu").as("c3"))
      .withColumn("s_e9", sE9).withColumn("lvl", lvl)
      .groupBy(window(col("ingest_ts"), watermark), col("doc_id"))
      .agg(
        count(lit(1)).as("n_trigrams"),
        sum(when(col("lvl") === "tri", 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("lvl") === "bi", 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("lvl") === "uni", 1L).otherwise(0L)).as("n_uni"),
        sum(col("s_e9")).as("s_sum_e9"))
      .select(
        col("doc_id"), col("n_trigrams"), col("n_tri"), col("n_bi"), col("n_uni"),
        floor(col("s_sum_e9").cast("double") / col("n_trigrams") / 100000L + 0.5)
          .cast("long").as("backoff_e4"))
  }

  /** Score-at-ingest twin of operators/LmOps.dsirWeights: each arriving
    * doc's hashed-bigram buckets join the offline-trained B-row ratio
    * table (stream-static, broadcastable at any corpus size); buckets
    * never seen in the reference corpus get the model's explicit unseen
    * default instead of silently dropping. Scoring the training corpus
    * reproduces the batch weights exactly (differential-tested) — there
    * every bucket hits, so the default path never fires. */
  def dsirScoreStream(
      docs: DataFrame,
      model: graft.operators.LmOps.DsirModel,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.TextFunctions.{stableHash60, tokens}
    val toks = tokens(col("text"))
    val n = size(toks)
    // guard BEFORE sequence(): n < 2 would step the sequence DOWN
    val idx = when(n >= lit(2), sequence(lit(1), n - 1))
      .otherwise(array().cast("array<int>"))
    docs
      .withColumn("__bg", explode(transform(idx, i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))))
      .select(col("doc_id"), col("ingest_ts"),
        (stableHash60(col("__bg")) % graft.operators.LmOps.DsirBuckets).as("b"))
      .withWatermark("ingest_ts", watermark)
      .join(model.ratio, Seq("b"), "left")
      .withColumn("r_e6", coalesce(col("ratio_e6"), lit(model.defaultRatioE6)))
      .groupBy(window(col("ingest_ts"), watermark), col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("r_e6")).as("r_sum"))
      .select(col("doc_id"), col("n_feats"),
        floor(col("r_sum").cast("double") / col("n_feats") + 0.5)
          .cast("long").as("imp_e6"))
  }

  /** Decontamination-at-ingest twin of operators/CurationOps
    * .contamination: each arriving non-benchmark doc explodes its
    * row-local DISTINCT trigram shingles (operators/DedupOps.rowShingles
    * — the same shingle universe as the batch postings), stream-static-
    * joins the offline benchmark shingle set, and the per-doc shared-
    * shingle count emits when the watermark closes, flagged at the batch
    * rule (>= minShared). Because the row shingles are distinct and the
    * static side is a set, the plain streaming count IS the batch
    * countDistinct — no distinct aggregation (which streaming forbids)
    * is needed. The benchmark set broadcasts at any corpus scale (it is
    * benchmark-sized, not corpus-sized); state is one count per open
    * (window, doc). This closes the ingest-gate family: near-dup,
    * exact-dup, fluency, NB quality, and now benchmark leakage are all
    * decided at the front door with offline-built static sides. */
  def contaminationStream(
      docs: DataFrame,
      benchShingles: DataFrame,
      minShared: Long = 2L,
      watermark: String = "10 minutes",
      isBench: org.apache.spark.sql.Column =
        graft.operators.CurationOps.benchPredicate): DataFrame = {
    import graft.operators.DedupOps
    // production: the firehose either contains no benchmark docs (drop
    // the filter by passing lit(false)) or marks them with a column
    // this predicate reads; the fixture keeps the modulus default
    docs
      .filter(!isBench)
      .select(col("doc_id"), col("ingest_ts"),
        explode(DedupOps.rowShingles(col("text"))).as("x31"))
      .withWatermark("ingest_ts", watermark)
      .join(benchShingles, Seq("x31"))
      .groupBy(window(col("ingest_ts"), watermark), col("doc_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .filter(col("n_shared_shingles") >= minShared)
      .select(col("doc_id"), col("n_shared_shingles"))
  }

  /** Score-at-ingest twin of operators/LmOps.nbScore: each arriving
    * doc's tokens join the offline-trained vocab-sized posterior table
    * (stream-static; broadcastable when the vocab fits), tokens the
    * model never saw get the explicit unseen-token default, and the
    * per-doc posterior mean + keep flag emit when the watermark closes
    * the window. Scoring the training corpus reproduces the batch
    * scores exactly (differential-tested) — there every token hits, so
    * the default path never fires. This is the learned-filter-at-the-
    * front-door deployment CCNet describes: the model trains offline on
    * a snapshot, the gate scores the firehose. */
  def nbScoreStream(
      docs: DataFrame,
      model: graft.operators.LmOps.NbModel,
      watermark: String = "10 minutes",
      thresholdE4: Long = graft.operators.LmOps.NbThresholdE4): DataFrame = {
    import graft.functions.TextFunctions.tokens
    docs
      .select(col("doc_id"), col("ingest_ts"), explode(tokens(col("text"))).as("tok"))
      .withWatermark("ingest_ts", watermark)
      .join(model.post.select("tok", "post_e9"), Seq("tok"), "left")
      .withColumn("p_e9", coalesce(col("post_e9"), lit(model.defaultPostE9)))
      .groupBy(window(col("ingest_ts"), watermark), col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("p_e9")).as("p_sum_e9"))
      .select(col("doc_id"), col("n_toks"),
        floor(col("p_sum_e9").cast("double") / col("n_toks") / 100000L + 0.5)
          .cast("long").as("nb_e4"))
      .withColumn("pred_trusted", col("nb_e4") >= thresholdE4)
  }

  case class ServerSeen(server: String)
  case class NewServer(server: String, firstSeen: java.sql.Timestamp)

  /** O-58 new-server watcher: emit each server the first time it appears
    * (`api/compactor/CompactorManager.java:147-164`). Custom keyed state
    * via flatMapGroupsWithState — the general tool for reference loops
    * whose state isn't a dedup window. */
  def newServers(observations: Dataset[(String, java.sql.Timestamp)]): Dataset[NewServer] = {
    import observations.sparkSession.implicits._
    observations
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (server: String, rows: Iterator[(String, java.sql.Timestamp)], state: GroupState[Boolean]) => {
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val first = rows.map(_._2).minBy(_.getTime)
            Iterator(NewServer(server, first))
          }
        })
  }

  /** One hash-bucket's slice of a streaming KMV sketch. */
  case class KmvBucket(bucket: Long, kmins: Seq[Long], n_tokens_seen: Long)

  /** Streaming KMV distinct-vocabulary sketch — continuous cardinality
    * monitoring at ingest, the stream twin of
    * [[graft.operators.SketchOps.kmvVocabSketch]]. State is keyed by
    * HASH BUCKET (h mod nBuckets), not one global row: each bucket holds
    * the k smallest hashes it has seen (bounded: k longs per bucket, so
    * total state is nBuckets·k longs FOREVER, whatever the ingest
    * volume — the whole point of sketching the stream), buckets spread
    * across executors, and KMV's merge associativity makes the global
    * sketch recoverable downstream as the k smallest over the buckets'
    * union. Because bucketing partitions the hash space, that merged
    * k-min set is EXACTLY the batch sketch's — the differential the
    * spec pins. Update mode: each trigger re-emits the buckets that
    * changed. */
  def kmvVocabStream(
      docs: DataFrame, k: Int = 64, nBuckets: Int = 16): Dataset[KmvBucket] = {
    import graft.functions.TextFunctions.{stableHash60, tokens}
    import docs.sparkSession.implicits._
    docs
      .select(explode(tokens(col("text"))).as("tok"))
      .select(stableHash60(col("tok")).as("h"))
      .as[Long]
      .groupByKey(_ % nBuckets)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (bucket: Long, hs: Iterator[Long], state: GroupState[KmvBucket]) => {
          val prior = state.getOption.getOrElse(KmvBucket(bucket, Nil, 0L))
          var seen = 0L
          val merged = scala.collection.mutable.SortedSet[Long](prior.kmins: _*)
          hs.foreach { h =>
            seen += 1
            if (merged.size < k) merged += h
            else if (h < merged.last && !merged.contains(h)) {
              merged += h
              merged -= merged.last
            }
          }
          val next = KmvBucket(bucket, merged.toSeq, prior.n_tokens_seen + seen)
          state.update(next)
          next
        })
  }

  /** One counter cell of a streaming Count-Min sketch. */
  case class CmsCell(row_id: Int, bucket: Int, cnt: Long)

  /** Streaming Count-Min frequency sketch — the stream twin of
    * [[graft.operators.SketchOps.cmsSketch]], continuous point-frequency
    * monitoring at ingest (which tokens/keys are getting hot, without
    * keeping a per-key counter table). State is keyed by COUNTER CELL
    * (row, bucket): one long per key, so total state is depth·width
    * longs FOREVER whatever the ingest volume — and because CMS counters
    * are linear in occurrences, the stream's cumulative cells are
    * EXACTLY the batch sketch over everything ingested so far (the
    * differential the spec pins; same md5-derived [[SketchOps.cmsBucket]]
    * hashing on both paths). Update mode re-emits the cells a trigger
    * touched. */
  /** Online ANN serving — the streaming face of
    * [[graft.operators.AnnIndexOps.writeIndex]]: a stream of query
    * vectors (vec_id, embedding) is scored per micro-batch against the
    * STORED index via [[graft.operators.AnnIndexOps.servedTopK]], and
    * each batch's top-k rows go to `emit`. Every query's result depends
    * only on the index and its own vector, so results are
    * batching-invariant — streamed answers equal the batch serve over
    * the union, the differential the spec pins. The index tables load
    * per batch through the same DPP-pruned read as batch serving;
    * nothing about arrival order or batch boundaries can change a
    * ranking. */
  def annServeStream(
      queries: DataFrame, indexDir: String, checkpoint: String,
      emit: (DataFrame, Long) => Unit,
      k: Int = 5, nprobe: Int = 2): StreamingQuery =
    foreachBatchSink(queries, checkpoint) { (batch, batchId) =>
      emit(graft.operators.AnnIndexOps.servedTopK(
        batch.sparkSession, indexDir, batch, k, nprobe), batchId)
    }

  /** Online ingest-dedup from the STORED signature index — the dedup
    * face of [[annServeStream]]: every arriving micro-batch of documents
    * is deduped against the written index
    * ([[graft.operators.DedupIndexOps.servedDupes]]) and its duplicate
    * report lands at `emit` in its own trigger — the shape of a
    * continuous ingest gate that drops corpus-duplicates before they
    * land. Batching-invariant by construction (a doc's verdict depends
    * only on the index and its own text, never on its batch-mates — the
    * StreamingSpec differential). */
  def dedupServeStream(
      docs: DataFrame, indexDir: String, checkpoint: String,
      emit: (DataFrame, Long) => Unit,
      thresholdE4: Long = 5000L): StreamingQuery =
    foreachBatchSink(docs, checkpoint) { (batch, batchId) =>
      emit(graft.operators.DedupIndexOps.servedDupes(
        batch.sparkSession, indexDir, batch, thresholdE4), batchId)
    }

  /** The gate-and-ingest composition as a CONTINUOUS pipeline
    * ([[graft.operators.DedupIndexOps.gateAndIngest]] per trigger): each
    * micro-batch is deduped against the stored index AND its own
    * batch-mates, its survivors are APPENDED to the index, and the
    * per-doc verdict report lands at `emit` — the index grows as the
    * stream runs, so a doc duplicating anything already ingested
    * (original corpus or an earlier batch's survivor) is flagged.
    * Order-DEPENDENT by design — that is what an ingest gate is: batch
    * boundaries decide dup_batch vs dup_index, never whether a
    * duplicate escapes (the StreamingSpec invariant). Crash-rerun safe
    * end-to-end: the report is complete before the index mutates and
    * the append skips already-indexed ids.
    *
    * Each trigger is a BOUNDED batch whose batch side lives on the
    * driver (the gateAndIngest contract): its signature frame is
    * collected once — driver memory ≈ rows × (K+1) × 8 B for K
    * permutations — and its intermediate frames are local snapshots, so
    * a trigger registers no cache entry and takes no checkpoint; an
    * executor loss re-runs tasks from the driver-held rows instead of
    * failing the trigger. */
  def dedupIngestGateStream(
      docs: DataFrame, indexDir: String, checkpoint: String,
      emit: (DataFrame, Long) => Unit,
      thresholdE4: Long = 5000L): StreamingQuery =
    foreachBatchSink(docs, checkpoint) { (batch, batchId) =>
      emit(graft.operators.DedupIndexOps.gateAndIngest(
        batch.sparkSession, indexDir, batch, thresholdE4), batchId)
    }

  /** Vector ingest INTO the stored ANN index as a continuous pipeline —
    * [[annDriftStream]]'s monitor and [[graft.operators.AnnIndexOps
    * .appendToIndex]] fused per trigger: each micro-batch's
    * quantizer-drift census lands at `emit` (the alarm fires in the
    * ingesting trigger itself) and the batch is appended to the posting
    * lists. The census depends only on the IMMUTABLE quantizer
    * artifacts (centroids / codebook / stored err_census), so its lazy
    * plan is unaffected by the append; crash-rerun safe because the
    * append skips already-indexed vec_ids. */
  def annIngestStream(
      vectors: DataFrame, indexDir: String, checkpoint: String,
      emit: (DataFrame, Long) => Unit): StreamingQuery =
    foreachBatchSink(vectors, checkpoint) { (batch, batchId) =>
      emit(graft.operators.AnnIndexOps.quantizerDrift(
        batch.sparkSession, indexDir, batch), batchId)
      graft.operators.AnnIndexOps.appendToIndex(
        batch.sparkSession, indexDir, batch)
    }

  /** Continuous quantizer-drift monitoring — the streaming face of
    * [[graft.operators.AnnIndexOps.quantizerDrift]]: every micro-batch
    * of ingested vectors is encoded against the STORED quantizer and its
    * per-posting-list error census lands at `emit` next to the stored
    * train-time baseline. This is the alarm wired to where it belongs —
    * the same ingest stream that feeds [[annServeStream]]/appendToIndex:
    * a batch that drifts off the training manifold reports high
    * `drift_e4` in ITS OWN trigger, not at the next offline audit. Each
    * report depends only on the index and that batch's rows (per-batch
    * census by design — drift is a property of the arriving data). */
  def annDriftStream(
      batches: DataFrame, indexDir: String, checkpoint: String,
      emit: (DataFrame, Long) => Unit): StreamingQuery =
    foreachBatchSink(batches, checkpoint) { (batch, batchId) =>
      emit(graft.operators.AnnIndexOps.quantizerDrift(
        batch.sparkSession, indexDir, batch), batchId)
    }

  def cmsFreqStream(docs: DataFrame,
      depth: Int = graft.operators.SketchOps.CmsDepth,
      width: Int = graft.operators.SketchOps.CmsWidth): Dataset[CmsCell] = {
    import graft.functions.TextFunctions.tokens
    import docs.sparkSession.implicits._
    graft.operators.SketchOps.cmsCells(
        docs.select(explode(tokens(col("text"))).as("tok")), depth, width)
      .select(col("row_id").cast("int"), col("bucket").cast("int"))
      .as[(Int, Int)]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (cell: (Int, Int), occ: Iterator[(Int, Int)], state: GroupState[Long]) => {
          val next = state.getOption.getOrElse(0L) + occ.size
          state.update(next)
          CmsCell(cell._1, cell._2, next)
        })
  }
}
