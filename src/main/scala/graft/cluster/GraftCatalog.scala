package graft.cluster

import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** Registers the full data model as temp views so users can work in pure
  * SQL against the engine: the raw tables, the derived cluster-state
  * views (D1-D3), and the server dimension. With
  * `spark.sql.extensions=graft.plans.GraftExtensions` the custom
  * functions (salted_key) resolve in SQL too.
  */
object GraftCatalog {

  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Tables.all.foreach { name =>
      Tables.read(spark, sfDir, name).createOrReplaceTempView(name)
    }
    // events with normalized timestamp type
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    ClusterViews.regionMetrics(spark, sfDir).createOrReplaceTempView("region_metrics")
    ClusterViews.regionInfo(spark, sfDir).createOrReplaceTempView("region_info")
    ClusterViews.topology(spark, sfDir).createOrReplaceTempView("topology")
    ClusterViews.servers(spark).createOrReplaceTempView("servers")
  }

  /** Operator outputs as temp views, so the SQL surface tracks the Scala
    * surface: a pure-SQL user composes `SELECT ... FROM fluency_scores
    * WHERE ...` and the filter/projection push into the operator's lazy
    * plan like any other view. Covers the newer operator families; the
    * older packs are reachable through [[registerViews]]' base model. */
  def registerOperatorViews(spark: SparkSession, sfDir: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
    val embs = Tables.embeddings(spark, sfDir)
    graft.operators.CurationOps.bigramFluency(docs)
      .createOrReplaceTempView("fluency_scores")
    graft.operators.PqOps.pqRerankTopK(embs)
      .createOrReplaceTempView("pq_rerank_topk")
    graft.operators.JoinsPack.asofQuery(spark, sfDir, sharded = true)
      .createOrReplaceTempView("order_region_asof")
    graft.operators.DedupOps.incrNearDup(docs, spark, graft.operators.DedupPack.IncrNearDupWatermark)
      .createOrReplaceTempView("incr_neardups")
    graft.operators.DedupOps.blockerPairRecall(docs, embs, spark)
      .createOrReplaceTempView("neardup_recall")
    graft.operators.DedupOps.blockerPairRecall(docs, embs, spark,
      samplePct = Some(graft.operators.DedupPack.RecallSamplePct))
      .createOrReplaceTempView("neardup_recall_s")
    graft.operators.AnnOps.nearDupPairsMultiProbe(embs, spark)
      .createOrReplaceTempView("emb_near_dups_mp")
    graft.operators.PqOps.ivfPqTopK(embs)
      .createOrReplaceTempView("ivfpq_topk")
    graft.operators.RetrievalOps.bm25TopK(docs)
      .createOrReplaceTempView("bm25_topk")
    graft.operators.RetrievalOps.bm25TopKForQueries(
      docs, graft.operators.RetrievalOps.benchmarkQueries(docs))
      .createOrReplaceTempView("bm25_multi")
    graft.operators.PqOps.ivfPqResidualTrainedTopK(embs)
      .createOrReplaceTempView("ivfpq_res_t_topk")
    graft.operators.DataLayoutOps.zorderBins(Tables.lineitem(spark, sfDir))
      .createOrReplaceTempView("zorder_bins")
    graft.operators.DataLayoutOps.zorderBins3d(Tables.lineitem(spark, sfDir))
      .createOrReplaceTempView("zorder_bins_3d")
    graft.operators.RetrievalOps.phraseHits(docs)
      .createOrReplaceTempView("phrase_hits")
    graft.operators.RetrievalOps.rrfFusion(docs, embs)
      .createOrReplaceTempView("rrf_fusion")
    graft.operators.AnnOps.filteredTopK(embs)
      .createOrReplaceTempView("ann_filtered")
    graft.operators.AnnOps.ivfAssignIncremental(embs)
      .createOrReplaceTempView("ivf_assign")
    graft.operators.CurationOps.qualityCurriculum(docs)
      .createOrReplaceTempView("curriculum_plan")
    graft.operators.CurationOps.bpeMerges(docs)
      .createOrReplaceTempView("bpe_merges")
    graft.operators.DataLayoutOps.skewCensus(Tables.events(spark, sfDir), "user_id")
      .createOrReplaceTempView("skew_census")
    graft.operators.EventsOps.valueDrift(Tables.events(spark, sfDir))
      .createOrReplaceTempView("value_drift")
    graft.operators.EventsOps.coActivity(Tables.events(spark, sfDir))
      .createOrReplaceTempView("co_activity")
    graft.operators.DataLayoutOps.profile(Tables.lineitem(spark, sfDir),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus"))
      .createOrReplaceTempView("table_profile")
    graft.operators.DataLayoutOps.joinSizeEstimate(
      Tables.orders(spark, sfDir), "o_orderkey", Tables.lineitem(spark, sfDir), "l_orderkey")
      .createOrReplaceTempView("join_size")
    graft.operators.CurationOps.tokenBudgetCut(docs)
      .createOrReplaceTempView("token_budget")
    graft.operators.CurationOps.tokenBudgetBoundary(docs)
      .createOrReplaceTempView("token_boundary")
    graft.operators.ScrubOps.dupSpanCensus(docs)
      .createOrReplaceTempView("dup_spans")
    graft.operators.ScrubOps.spanScrub(docs)
      .createOrReplaceTempView("span_scrub")
    graft.operators.RetrievalOps.bm25IngestTopK(docs)
      .createOrReplaceTempView("bm25_ingest")
    graft.operators.AnnOps.truncRerankTopK(embs)
      .createOrReplaceTempView("ann_trunc_rr")
    graft.operators.CurationOps.sourceQualityDrift(docs)
      .createOrReplaceTempView("source_drift")
    graft.operators.CurationOps.bpeEncodeStats(docs)
      .createOrReplaceTempView("bpe_fertility")
    graft.operators.LmOps.trigramBackoff(docs)
      .createOrReplaceTempView("trigram_backoff")
    graft.operators.LmOps.dsirWeights(docs)
      .createOrReplaceTempView("dsir_weights")
    graft.operators.LmOps.nbScore(docs)
      .createOrReplaceTempView("nb_score")
    graft.operators.LmOps.nbTopFeatures(docs)
      .createOrReplaceTempView("nb_top_feats")
    graft.operators.CurationOps.temperatureMix(docs)
      .createOrReplaceTempView("temp_mix")
    graft.operators.DedupOps.sourceOverlap(docs, spark)
      .createOrReplaceTempView("source_overlap")
    graft.operators.CurationOps.cascadePlan(docs)
      .createOrReplaceTempView("cascade_plan")
    graft.operators.AnnOps.knnGraph(embs, spark)
      .createOrReplaceTempView("knn_graph")
    graft.operators.CurationOps.curationFunnel(docs)
      .createOrReplaceTempView("curation_funnel")
    graft.operators.LmOps.scoreCorr(docs)
      .createOrReplaceTempView("score_corr")
    graft.operators.DedupOps.jaccardSweep(docs)
      .createOrReplaceTempView("dedup_sweep")
    graft.operators.DedupOps.sweepThreshold(docs)
      .createOrReplaceTempView("sweep_threshold")
    graft.operators.DataLayoutOps.sortBounds(
      Tables.lineitem(spark, sfDir), "l_partkey", Seq("l_orderkey", "l_linenumber"))
      .createOrReplaceTempView("sort_bounds")
    graft.operators.CurationOps.tokenAllocation(docs)
      .createOrReplaceTempView("mix_alloc")
    graft.operators.LmOps.dsirSelect(docs)
      .createOrReplaceTempView("dsir_select")
    graft.operators.LmOps.pplBuckets(docs)
      .createOrReplaceTempView("ppl_buckets")
    graft.operators.ScrubOps.intraDupCensus(docs)
      .createOrReplaceTempView("intra_spans")
    graft.operators.AnnOps.hardNegatives(embs)
      .createOrReplaceTempView("hard_negs")
    graft.operators.SketchOps.kmvVocabSketch(docs)
      .createOrReplaceTempView("kmv_vocab")
    graft.operators.SketchOps.kmvSourceOverlap(docs)
      .createOrReplaceTempView("kmv_overlap")
    graft.operators.SketchOps.cmsFreqAudit(docs)
      .createOrReplaceTempView("cms_freq")
    graft.operators.SketchOps.cmsHeavyHitters(docs)
      .createOrReplaceTempView("cms_heavy")
    val (oldV, newV) = graft.operators.CurationOps.fixtureVersions(docs)
    graft.operators.CurationOps.corpusDiff(oldV, newV)
      .createOrReplaceTempView("corpus_diff")
    graft.operators.CurationOps.packingAssign(docs)
      .createOrReplaceTempView("packing_assign")
    graft.operators.CurationOps.allocSelect(docs)
      .createOrReplaceTempView("alloc_select")
    graft.operators.DataLayoutOps.exactQuantiles(
      docs.select(org.apache.spark.sql.functions.size(
        graft.functions.TextFunctions.tokens(
          org.apache.spark.sql.functions.col("text"))).as("n_toks")), "n_toks")
      .createOrReplaceTempView("len_quantiles")
    graft.operators.DataLayoutOps.exactQuantilesBy(
      docs.select(org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.size(
          graft.functions.TextFunctions.tokens(
            org.apache.spark.sql.functions.col("text"))).as("n_toks")),
      "lang", "n_toks")
      .createOrReplaceTempView("len_quantiles_lang")
    graft.operators.MultimodalOps.mediaDims(docs)
      .createOrReplaceTempView("media_dims")
    graft.operators.MultimodalOps.mediaDimsMix(docs)
      .createOrReplaceTempView("media_dims_mix")
    graft.operators.MultimodalOps.wavDims(docs)
      .createOrReplaceTempView("wav_dims")
    graft.operators.MultimodalOps.mediaPixels(docs)
      .createOrReplaceTempView("media_pixels")
    graft.operators.MultimodalOps.mediaAHash(docs)
      .createOrReplaceTempView("media_ahash")
    graft.operators.CurationOps.diversityCensus(docs)
      .createOrReplaceTempView("diversity_census")
    graft.operators.PngCodecOps.pngPixels(docs)
      .createOrReplaceTempView("png_pixels")
    graft.operators.CurationOps.ppsSample(docs)
      .createOrReplaceTempView("pps_sample")
    // NOT here: the stored-index serve chains (dedup_served, ann_served,
    // bm25_served) — every view in this catalog registers LAZILY (a plan,
    // no jobs), while a served chain eagerly builds and writes its index
    // at call time. SQL users register those ad hoc:
    //   IndexFixtures.served(IndexFixtures.Dedup, spark, dir).createOrReplaceTempView(...)
  }
}
