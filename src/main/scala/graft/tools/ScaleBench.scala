package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up bench (VERDICT r8 item 5): measure how the heavy
  * operator families GROW, not just how fast they are at one fixture.
  *
  * Builds a `factor`× corpus engine-side from sf0.1 — no new fixtures:
  * each replica re-ids its rows (`id·factor + i`) and, for documents,
  * suffixes EVERY token with a replica marker so replicas are
  * content-disjoint (each behaves like a different shard of similar
  * data: per-replica dedup/retrieval structure identical to the
  * original, cross-replica structure empty). That isolates ENGINE
  * scaling from output blowup — replicating identical text would grow
  * the near-dup pair OUTPUT quadratically by construction, which is the
  * cap guards' department (DedupGuardsSpec), not a throughput
  * measurement. Embedding replicas get a small deterministic per-replica
  * epsilon (rank structure preserved, exact ties broken); the fixed
  * `vec_id < nQueries` ANN query sets stay ~constant-size, so the
  * query-driven families measure corpus growth, not query-set growth.
  *
  * The scaled tables are WRITTEN to parquet first (same layout as the
  * fixtures), so corpus construction never pollutes the query timing,
  * and every `SparkEntry.queries` entry runs unchanged against the
  * scaled dir. Per family × scale: two passes, min (the Bench
  * convention). Output: one JSON line per family with the measured
  * scaling exponent log(t_big/t_base)/log(factor) — ~1 is linear, ~2 is
  * the quadratic smell this harness exists to catch before a real 100×.
  */
object ScaleBench {

  /** The heavy families and why they're here: banded dedup pair
    * generation, SimHash banding, BM25 index ingest, the cross-doc and
    * within-doc span censuses, KMV sketching, the IVFADC ANN path, and
    * the three census-window selectors (token_budget, dsir_select,
    * packing_assign — the single-partition-window risk class this
    * harness exists to catch) plus the media header walk (bounded
    * `aggregate` expression at corpus scale). */
  val Families: Seq[String] = Seq(
    "dedup_minhash", "dedup_simhash", "bm25_ingest", "dup_spans",
    "intra_spans", "kmv_vocab", "kmv_overlap", "cms_freq", "ivfpq_res_t",
    "ann_ivf_probe2", "token_budget", "dsir_select", "packing_assign", "alloc_select", "len_quantiles",
    "media_dims_mix",
    // round-10 tail: the grouped + dense-distinct + shuffled quantile
    // censuses, the heavy-hitter sweep, the 20%-budget water-fill closure,
    // the build-write-serve ANN cycle, and the pixel raster walk
    "len_quantiles_lang", "len_quantiles_user", "id_quantiles",
    "cms_heavy", "alloc_select20", "ann_served", "media_pixels",
    "media_ahash", "ahash_near_dups", "bm25_served",
    // round-11 tail: the distributed-rank boundary plan (documents twin —
    // the scaled corpora carry documents, not lineitem), the per-source
    // TTR census (|vocab|-sized distinct state), the native NFC pass,
    // and the stored-index maintenance cycles (build-append-serve,
    // tombstone-masked serve, drift census)
    "sort_bounds_doc", "diversity_census", "nfc_norm",
    "ann_ingest", "ann_deleted", "ann_drift",
    // the real-codec decode (mapPartitions + JDK Inflater): pure map
    // parallelism, expected ~linear in docs like the raster walks
    "png_pixels",
    // text-side deletion: build + tombstone + masked serve
    "bm25_deleted",
    // NFC-composed exact dedup: the normalize pass feeding a corpus-wide
    // key shuffle (the planted frame is 2x the corpus by construction)
    "dedup_exact_nfc",
    // the persisted dedup-signature index: full build-write-serve cycle
    // (caching off, the ann_served convention) — signature groupBy +
    // partitioned write + pruned batch serve
    "dedup_served",
    // the distributed corpus-wide prefix sum (range shuffle + census
    // offsets) under the systematic PPS pin test
    "pps_sample",
    // chunk-level exact dedup: the chunk explode (n/stride rows per doc)
    // into one 16-byte-key window shuffle
    "chunk_dedup",
    // the full gate-and-ingest composition: fresh index build + batch
    // gate (index serve + batch self-join) + survivor append, per call
    "dedup_gate",
    // BM25 stored-index ingest: build on half, append the rest (with the
    // idempotence anti-join), term-pruned serve
    "bm25_ing_served",
    // the grouped PPS twin: per-source prefix sums (replicas keep the
    // source dimension, so groups GROW ×factor in size at fixed count —
    // the within-group scaling axis; group-count growth is events/user_id
    // territory, measured by len_quantiles_user)
    "pps_sample_src",
    // round-12 tail: the SERVE-ONLY stored-index families — the index is
    // prebuilt once per (prefix, dir) even with caching off
    // (IndexFixtures prebuilt shapes), so pass 1 pays build+serve, pass 2
    // serves alone, and the min-of-passes convention isolates the serve
    // path: near-flat is the claim for the pruned/DPP/term-pruned reads
    "dedup_serve_only", "ann_serve_only", "bm25_serve_only",
    // the baseline-JPEG entropy decode (mapPartitions + own Huffman/IDCT):
    // pure map parallelism, expected ~linear like png_pixels; the color
    // twin adds the 3-component interleave + YCbCr conversion
    "jpeg_pixels", "jpeg_pixels_rgb",
    // the subsampled profile: 4 luma blocks + 2 chroma per MCU, restart
    // markers on a third of the docs, nearest-neighbor upsample
    "jpeg_pixels_420",
    // round-13 tail: the APPEND-ONLY stored-index families — prebuilt
    // index (outside the timer), a FIXED batch appended under fresh
    // pass-offset ids per call, so min-of-passes times the guarded
    // append alone (inventory-pruned sidecar probe + table appends +
    // in-place inventory refresh): near-flat is the claim, against the
    // former per-batch partition-discovery walk
    "dedup_append_only", "ann_append_only", "bm25_append_only",
    // the gate marginal-cost twin: gate + survivor-append of a fixed
    // content-disjoint batch against a prebuilt index (dedup_gate keeps
    // measuring the full build-gate-append cycle)
    "dedup_gate_only",
    // the STREAMING serve-only twins: one MemoryStream trigger through
    // the real foreachBatch machinery against a prebuilt index — the
    // per-trigger cadence cost, measured rather than inherited from the
    // batch twins
    "dedup_gate_stream", "ann_serve_stream",
    // progressive-JPEG decode (multi-scan coefficient accumulation):
    // the same per-doc codec floor class as jpeg_pixels
    "jpeg_pixels_prog",
    // successive-approximation progressive (point-transformed first
    // scans + the G.1.2.3 refinement walk) and the subsampled
    // progressive profile — both still the per-doc codec floor class
    "jpeg_pixels_prog_sa", "jpeg_pixels_prog_420",
    // the round-13 PNG profile completions (Adam7 per-pass defilter +
    // scatter, PLTE expansion, alpha channels, 1/2/4/16 bit depths):
    // png_pixels' per-doc inflate floor class
    "png_pixels_i7", "png_pixels_pal", "png_pixels_rgba",
    "png_pixels_depth", "png_pixels_pal4",
    // real PCM sample decode (chunk walk + byte assembly at 8/16/24/32
    // bits): the audio member of the per-doc codec floor class
    "wav_pcm",
    // audio quality features (energy/ZCR/peak/clipping over the same
    // decode): the same per-doc floor, a second pass shape over PCM
    "wav_features",
    // perceptual near-dup: per-doc PNG decode + integer DCT (the codec
    // floor class) then ONE narrow (band, bits)-keyed shuffle — the
    // minhash-LSH scale shape applied to image structure
    "phash_near_dups",
    // the audio twin: per-doc WAV decode + framed band energies +
    // double-difference bits, same narrow banded shuffle
    "audio_near_dups",
    // video: AVI container walk + every-2nd-frame MJPEG decode — the
    // frame-sample pipeline, scan-local per doc (the codec floor class
    // times the sampled-frame count)
    "avi_frames",
    // video near-dup: per-sampled-frame pHash + the frame-aligned
    // banded pair join — the minhash-LSH class with a frame dimension
    "video_near_dups")

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // two scale points: the EXPONENT is measured between them, because
    // at the fixture's own size per-query fixed costs (task launch,
    // tiny shuffles) dominate and flatten any ratio against the base —
    // the base column is reported for context only
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALES", "10,100")
      .split(',').map(_.trim.toInt).toSeq.sorted
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val spark = TimingSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // measure COMPUTE, not cache re-reads: with maybeCache on, pass 1
    // materializes each operator's shared frames and the min-of-passes
    // would time a cache scan (output-sized, flat in the corpus) — the
    // first ScaleBench draft did exactly that and read exponent ~0 at
    // 100x. Bench keeps the cache on because ITS comparisons are
    // like-for-like; here the corpus size is the variable.
    spark.conf.set(graft.Caching.EnabledKey, "false")

    // ---- build the scaled tables (not timed) ----
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val embs = spark.read.parquet(s"$base/embeddings.parquet")
    val evs = spark.read.parquet(s"$base/events.parquet")
    // family filter for incremental runs (comma-separated; default all).
    // Unknown names fail fast: a typo must not silently bench nothing
    // after minutes of corpus building.
    val wanted = sys.env.get("SPARK_GRAFT_SCALE_FAMILIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    wanted.foreach { w =>
      val unknown = w.diff(Families.toSet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SCALE_FAMILIES names not in Families: ${unknown.mkString(", ")}")
    }
    val baseDocCount = spark.read.parquet(s"$base/documents.parquet").count()
    val baseVecCount = spark.read.parquet(s"$base/embeddings.parquet").count()
    val baseEvCount = spark.read.parquet(s"$base/events.parquet").count()
    def build(factor: Int): String = {
      val dir = s"$outRoot/x$factor"
      // reuse a corpus built by a previous run: the construction is
      // deterministic, so a dir is valid iff it holds exactly
      // base_docs x factor rows FOR THE CURRENT BASE — a stale corpus
      // from a different SF (or a partial write) fails the count and is
      // rebuilt, instead of silently skewing the exponents
      val reusable = sys.env.contains("SPARK_GRAFT_SCALE_REUSE") &&
        scala.util.Try(
          spark.read.parquet(s"$dir/documents.parquet").count() == baseDocCount * factor &&
            // the embeddings corpus gets the SAME exact-count gate — a
            // schema-only check would silently reuse a stale or partial
            // vector corpus and skew the ANN-family exponents
            spark.read.parquet(s"$dir/embeddings.parquet").count() == baseVecCount * factor &&
            spark.read.parquet(s"$dir/events.parquet").count() == baseEvCount * factor
        ).getOrElse(false)
      if (reusable) {
        System.err.println(s"[scale-bench] reusing ${factor}x corpus at $dir")
        return dir
      }
      val scaledDocs = (0 until factor).map { i =>
        val reId = docs.withColumn("doc_id", col("doc_id") * factor.toLong + i)
        val varied =
          if (i == 0) reId
          else reId.withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1c" + i))
        varied.withColumn("n_chars", length(col("text")).cast("long"))
      }.reduce(_ unionByName _)
      scaledDocs.repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val scaledEmbs = (0 until factor).map { i =>
        embs.withColumn("vec_id", col("vec_id") * factor.toLong + i)
          .withColumn("embedding",
            transform(col("embedding"), x => x + lit((i * 1e-4).toFloat)))
      }.reduce(_ unionByName _)
      scaledEmbs.repartition(32).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // events scale with the GROUP CARDINALITY growing too (user_id
      // re-ids like doc_id) — the axis the shuffled quantile twin is for
      val scaledEvs = (0 until factor).map { i =>
        evs.withColumn("event_id", col("event_id") * factor.toLong + i)
          .withColumn("user_id", col("user_id") * factor.toLong + i)
      }.reduce(_ unionByName _)
      scaledEvs.repartition(32).write.mode("overwrite").parquet(s"$dir/events.parquet")
      System.err.println(s"[scale-bench] built ${factor}x corpus at $dir: " +
        s"${spark.read.parquet(s"$dir/documents.parquet").count()} docs, " +
        s"${spark.read.parquet(s"$dir/embeddings.parquet").count()} vectors, " +
        s"${spark.read.parquet(s"$dir/events.parquet").count()} events")
      dir
    }
    val dirs = factors.map(f => f -> build(f))

    // ---- measure ----
    // action = the noop DSv2 sink, NOT count(): under count() Catalyst
    // prunes every column and can ELIMINATE a left-outer join whose
    // build side aggregates on a provably-unique key — dup_spans
    // collapsed to a doc_id scan and read flat at 100x in the first
    // draft. The noop write computes every row with every column.
    def timeOne(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      def pass(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(pass(), pass())
    }
    val (fLo, dLo) = dirs.head
    val (fHi, dHi) = dirs.last
    val rows = Families.filter(n => wanted.forall(_.contains(n))).map { name =>
      val t1 = timeOne(name, base)
      val tLo = timeOne(name, dLo)
      val tHi = timeOne(name, dHi)
      // exponent between the two scaled points (both past the overhead
      // floor); guard the log against sub-resolution times
      val exp = math.log(math.max(tHi, 1e-3) / math.max(tLo, 1e-3)) /
        math.log(fHi.toDouble / fLo)
      System.err.println(f"[scale-bench] $name%-16s base=$t1%6.2fs ${fLo}x=$tLo%7.2fs " +
        f"${fHi}x=$tHi%7.2fs exp=$exp%5.2f")
      f"""{"family":"$name","t_base":$t1%.2f,"t_x$fLo":$tLo%.2f,"t_x$fHi":$tHi%.2f,"exponent":$exp%.2f}"""
    }
    println(rows.mkString("[", ",", "]"))
    spark.stop()
  }
}
