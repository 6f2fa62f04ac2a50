package graft.tools

import graft.cluster.GraftCatalog
import graft.contract.IndexFixtures

/** Dev probe: where does SqlSurfaceSpec's operator-views test spend its
  * time? Replays the suite's session shape (local[4], 4 shuffle
  * partitions, sf0.001) and times each action. */
object SqlSurfaceProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession
      .builder(master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = "/root/testdata/sf0.001"
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    if (args.contains("withbase")) {
      t("registerViews")(GraftCatalog.registerViews(spark, sf))
      t("test1 q1")(spark.sql(
        """SELECT server, COUNT(*) AS n
          |FROM region_metrics GROUP BY server ORDER BY n DESC, server LIMIT 3""".stripMargin).count())
      t("test1 q2")(spark.sql(
        """SELECT COUNT(*) FROM region_info i
          |JOIN region_metrics m ON i.region_id = m.region_id
          |WHERE NOT i.offline""".stripMargin).collect())
    }
    t("registerOperatorViews")(GraftCatalog.registerOperatorViews(spark, sf))
    val docs = graft.sources.Tables.documents(spark, sf)
    val embs = graft.sources.Tables.embeddings(spark, sf)
    t("fluency view")(spark.sql("SELECT * FROM fluency_scores WHERE fluency_e4 >= 0").count())
    t("fluency scala")(graft.operators.CurationOps.bigramFluency(docs).count())
    t("pq_rerank view")(spark.sql("SELECT * FROM pq_rerank_topk").count())
    t("pq_rerank scala")(graft.operators.PqOps.pqRerankTopK(embs).count())
    t("asof")(spark.sql("SELECT COUNT(*) FROM order_region_asof").collect())
    t("incr_neardups view")(spark.sql("SELECT * FROM incr_neardups").count())
    t("incr_neardups scala")(graft.operators.DedupOps.incrNearDup(docs, spark, 100L).count())
    t("emb_near_dups_mp view")(spark.sql("SELECT * FROM emb_near_dups_mp").count())
    t("emb_near_dups_mp scala")(graft.operators.AnnOps.nearDupPairsMultiProbe(embs, spark).count())
    t("ivfpq_topk view")(spark.sql("SELECT * FROM ivfpq_topk WHERE rnk <= 5").count())
    t("ivfpq_topk scala")(graft.operators.PqOps.ivfPqTopK(embs).count())
    t("neardup_recall view")(spark.sql(
      "SELECT blocker, recall_e4 FROM neardup_recall ORDER BY blocker").collect())
    t("bm25_topk view")(spark.sql("SELECT * FROM bm25_topk WHERE rnk <= 10").count())
    t("bm25_topk scala")(graft.operators.RetrievalOps.bm25TopK(docs).count())
    t("zorder")(spark.sql("SELECT MAX(p_max - p_min) FROM zorder_bins").collect())
    t("phrase view")(spark.sql("SELECT * FROM phrase_hits WHERE n_hits > 0").count())
    t("rrf view")(spark.sql("SELECT * FROM rrf_fusion").count())
    t("ann_filtered")(spark.sql("SELECT DISTINCT qid FROM ann_filtered").count())
    t("ivf_assign")(spark.sql("SELECT COUNT(*) FROM ivf_assign").collect())
    t("curriculum")(spark.sql("SELECT COUNT(*) FROM curriculum_plan").collect())
    t("bpe_merges")(spark.sql("SELECT COUNT(DISTINCT it) FROM bpe_merges").collect())
    t("skew_census")(spark.sql("SELECT MAX(rnk) FROM skew_census").collect())
    t("bm25_multi nQ")(graft.operators.RetrievalOps.benchmarkQueries(docs)
      .select("query_id").distinct().count())
    t("bm25_multi view")(spark.sql("SELECT COUNT(DISTINCT query_id) FROM bm25_multi").collect())
    t("bm25_multi groups")(spark.sql(
      "SELECT COUNT(*) FROM (SELECT query_id, MAX(rnk) m, COUNT(*) n FROM bm25_multi " +
        "GROUP BY query_id) WHERE m <> n OR n > 3").collect())
    t("ivfpq_res_t_topk")(spark.sql("SELECT COUNT(DISTINCT qid) FROM ivfpq_res_t_topk").collect())
    t("neardup_recall_s join")(spark.sql(
      "SELECT s.blocker, s.n_true, x.n_true FROM neardup_recall_s s " +
        "JOIN neardup_recall x ON s.blocker = x.blocker").collect())
    t("nb_score")(spark.sql("SELECT COUNT(*) FROM nb_score").collect())
    t("nb_top_feats")(spark.sql(
      "SELECT COUNT(*) FROM (SELECT side, COUNT(*) n FROM nb_top_feats " +
        "GROUP BY side) WHERE n <> 10").collect())
    t("temp_mix")(spark.sql("SELECT SUM(w_e6) FROM temp_mix").collect())
    t("token_boundary 1")(spark.sql(
      "SELECT COUNT(DISTINCT bkt) FROM token_boundary").collect())
    t("token_boundary 2")(spark.sql(
      "SELECT COUNT(*) FROM token_boundary WHERE kept AND cum_before_doc >= 10000").collect())
    t("span_scrub join")(spark.sql(
      "SELECT COUNT(*) FROM dup_spans c JOIN span_scrub s ON c.doc_id = s.doc_id " +
        "WHERE s.kept_tokens <> c.n_tokens - c.covered_tokens").collect())
    t("bm25_ingest join")(spark.sql(
      "SELECT COUNT(*) FROM bm25_ingest i JOIN bm25_topk b " +
        "ON i.doc_id = b.doc_id AND i.rnk = b.rnk AND i.score_e4 = b.score_e4").collect())
    t("dsir_select")(spark.sql(
      "SELECT COUNT(*) FROM dsir_select d WHERE NOT kept AND imp_e6 > " +
        "(SELECT MIN(imp_e6) FROM dsir_select WHERE kept)").collect())
    t("ppl_buckets 1")(spark.sql(
      "SELECT COUNT(*) FROM ppl_buckets WHERE bucket NOT IN ('head','middle','tail')").collect())
    t("ppl_buckets 2")(spark.sql("SELECT COUNT(*) FROM ppl_buckets").collect())
    t("trigram_backoff")(spark.sql("SELECT COUNT(*) FROM trigram_backoff").collect())
    t("intra_spans")(spark.sql(
      "SELECT COUNT(*) FROM intra_spans WHERE covered_tokens > n_tokens").collect())
    t("hard_negs")(spark.sql(
      "SELECT COUNT(*) FROM (SELECT qid, COUNT(*) n, MAX(rnk) m FROM hard_negs " +
        "GROUP BY qid) WHERE n <> 5 OR m <> 5").collect())
    t("packing_assign")(spark.sql(
      s"SELECT COUNT(*) FROM packing_assign WHERE bin_offset + ctx > " +
        s"${graft.operators.CurationOps.PackContext}").collect())
    t("media_dims")(spark.sql(
      "SELECT COUNT(*) FROM media_dims WHERE (status = 'png') <> (width IS NOT NULL)").collect())
    t("media_dims_mix")(spark.sql(
      "SELECT COUNT(*) FROM media_dims_mix WHERE status NOT IN ('png','jpeg','corrupt')" +
        " OR ((status <> 'corrupt') <> (width IS NOT NULL))").collect())
    t("wav_dims")(spark.sql(
      "SELECT COUNT(*) FROM wav_dims WHERE status = 'wav'" +
        " AND byte_rate <> sample_rate * block_align").collect())
    t("cms_freq")(spark.sql(
      "SELECT COUNT(*) FROM cms_freq WHERE est_count < n_exact OR over_e4 < 0").collect())
    t("cms_heavy")(spark.sql(
      "SELECT COUNT(*) FROM cms_heavy WHERE est_count * 10000 < 300 * n_total").collect())
    t("alloc_select 1")(spark.sql(
      "SELECT COUNT(*) FROM alloc_select WHERE kept IS NULL").collect())
    t("alloc_select 2")(spark.sql("SELECT COUNT(*) FROM alloc_select").collect())
    t("documents count")(spark.sql("SELECT COUNT(*) FROM documents").collect())
    t("len_quantiles 1")(spark.sql(
      "SELECT COUNT(*) FROM len_quantiles a JOIN len_quantiles b ON a.q_e2 < b.q_e2" +
        " AND a.value > b.value").collect())
    t("len_quantiles 2")(spark.sql(
      "SELECT COUNT(*) FROM len_quantiles WHERE rank < 1 OR rank > n_total").collect())
    t("media_pixels 1")(spark.sql(
      "SELECT COUNT(*) FROM media_pixels WHERE (status <> 'corrupt') <> (c0_sum IS NOT NULL)").collect())
    t("media_pixels 2")(spark.sql(
      "SELECT COUNT(*) FROM media_pixels WHERE status <> 'corrupt' AND" +
        " (c0_min < 0 OR c0_max > 255 OR c0_min * width * height > c0_sum" +
        " OR c0_max * width * height < c0_sum)").collect())
    t("media_ahash")(spark.sql(
      "SELECT COUNT(*) FROM media_ahash WHERE (status <> 'corrupt') <> (ahash IS NOT NULL)" +
        " OR (status <> 'corrupt' AND ahash >= CAST(pow(2, width * height) AS BIGINT))").collect())
    t("png_pixels")(spark.sql(
      "SELECT COUNT(*) FROM png_pixels WHERE (status <> 'corrupt') <> (c0_sum IS NOT NULL)" +
        " OR (status <> 'corrupt' AND (c0_min < 0 OR c0_max > 255" +
        " OR c0_min * width * height > c0_sum OR c0_max * width * height < c0_sum))").collect())
    t("diversity_census")(spark.sql(
      "SELECT COUNT(*) FROM diversity_census WHERE n_types > n_tokens" +
        " OR ttr_e6 <= 0 OR ttr_e6 > 1000000" +
        " OR n_bigram_types > n_bigrams OR n_bigrams >= n_tokens").collect())
    t("dedup_served build")(IndexFixtures.served(IndexFixtures.Dedup, spark, sf)
      .createOrReplaceTempView("dedup_served"))
    t("dedup_served 1")(spark.sql(
      "SELECT COUNT(*) FROM dedup_served WHERE est_e4 < 5000 OR est_e4 > 10000").collect())
    t("dedup_served 2")(spark.sql("SELECT * FROM dedup_served").count())
    t("dedup_served scala")(IndexFixtures.served(IndexFixtures.Dedup, spark, sf).count())
    t("pps_sample 1")(spark.sql(
      "SELECT COUNT(*) FROM pps_sample WHERE n_hits < 1 OR cum < w").collect())
    t("pps_sample 2")(spark.sql("SELECT * FROM pps_sample").count())
    t("pps_sample scala")(graft.operators.CurationOps.ppsSample(docs).count())
    spark.stop()
  }
}
