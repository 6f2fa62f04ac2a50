package graft

import graft.cluster.GraftCatalog
import graft.contract.IndexFixtures

class SqlSurfaceSpec extends SparkSpec {

  test("catalog views expose the whole model to pure SQL") {
    GraftCatalog.registerViews(spark, sf)
    val top = spark.sql(
      """SELECT server, COUNT(*) AS n
        |FROM region_metrics GROUP BY server ORDER BY n DESC, server LIMIT 3""".stripMargin)
    assert(top.count() == 3)
    val joined = spark.sql(
      """SELECT COUNT(*) FROM region_info i
        |JOIN region_metrics m ON i.region_id = m.region_id
        |WHERE NOT i.offline""".stripMargin).collect()(0).getLong(0)
    assert(joined > 0)
  }

  test("operator views put the newer operator families on the SQL surface") {
    GraftCatalog.registerOperatorViews(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
    val embs = graft.sources.Tables.embeddings(spark, sf)
    // each view is the operator's lazy plan: counts match the Scala calls
    assert(spark.sql("SELECT * FROM fluency_scores WHERE fluency_e4 >= 0").count() ==
      graft.operators.CurationOps.bigramFluency(docs).count())
    assert(spark.sql("SELECT * FROM pq_rerank_topk").count() ==
      graft.operators.PqOps.pqRerankTopK(embs).count())
    assert(spark.sql("SELECT COUNT(*) FROM order_region_asof").collect()(0).getLong(0) > 0)
    assert(spark.sql("SELECT * FROM incr_neardups").count() ==
      graft.operators.DedupOps.incrNearDup(docs, spark, 100L).count())
    assert(spark.sql("SELECT * FROM emb_near_dups_mp").count() ==
      graft.operators.AnnOps.nearDupPairsMultiProbe(embs, spark).count())
    assert(spark.sql("SELECT * FROM ivfpq_topk WHERE rnk <= 5").count() ==
      graft.operators.PqOps.ivfPqTopK(embs).count())
    // and SQL composes over them: an aggregate over the recall view
    val recallRows = spark.sql(
      "SELECT blocker, recall_e4 FROM neardup_recall ORDER BY blocker").collect()
    assert(recallRows.length == 5)
    assert(recallRows.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 10000))
    assert(spark.sql("SELECT * FROM bm25_topk WHERE rnk <= 10").count() ==
      graft.operators.RetrievalOps.bm25TopK(docs).count())
    assert(spark.sql(
      "SELECT MAX(p_max - p_min) FROM zorder_bins").collect()(0).getLong(0) >= 0)
    assert(spark.sql("SELECT * FROM phrase_hits WHERE n_hits > 0").count() ==
      graft.operators.RetrievalOps.phraseHits(docs).count())
    assert(spark.sql("SELECT * FROM rrf_fusion").count() == 10)
    assert(spark.sql("SELECT DISTINCT qid FROM ann_filtered").count() <= 10)
    assert(spark.sql("SELECT COUNT(*) FROM ivf_assign").collect()(0).getLong(0) > 0)
    assert(spark.sql("SELECT COUNT(*) FROM curriculum_plan").collect()(0).getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(DISTINCT it) FROM bpe_merges").collect()(0).getLong(0) == 2)
    assert(spark.sql("SELECT MAX(rnk) FROM skew_census").collect()(0).getInt(0) <= 20)
    // query-table BM25: every fixture query scores at least one doc
    // (terms come from the corpus vocab, so none can be empty); at most
    // 3 ranked docs per query, ranks dense from 1
    val nQ = graft.operators.RetrievalOps.benchmarkQueries(docs)
      .select("query_id").distinct().count()
    assert(spark.sql("SELECT COUNT(DISTINCT query_id) FROM bm25_multi")
      .collect()(0).getLong(0) == nQ)
    assert(spark.sql(
      "SELECT COUNT(*) FROM (SELECT query_id, MAX(rnk) m, COUNT(*) n FROM bm25_multi " +
        "GROUP BY query_id) WHERE m <> n OR n > 3").collect()(0).getLong(0) == 0)
    assert(spark.sql("SELECT COUNT(DISTINCT qid) FROM ivfpq_res_t_topk")
      .collect()(0).getLong(0) <= 10)
    // the sampled recall view really exercises the sampled path: five
    // blocker rows, and its truth sets are subsets of the exact view's
    val sampled = spark.sql(
      "SELECT s.blocker, s.n_true, x.n_true FROM neardup_recall_s s " +
        "JOIN neardup_recall x ON s.blocker = x.blocker").collect()
    assert(sampled.length == 5)
    assert(sampled.forall(r => r.getLong(1) <= r.getLong(2)),
      "sampled truth set exceeded the exact truth set")
    // NB classifier views: every doc scored, features split into the
    // two k-row sides
    assert(spark.sql("SELECT COUNT(*) FROM nb_score").collect()(0).getLong(0) ==
      docs.count())
    assert(spark.sql(
      "SELECT COUNT(*) FROM (SELECT side, COUNT(*) n FROM nb_top_feats " +
        "GROUP BY side) WHERE n <> 10").collect()(0).getLong(0) == 0)
    // temperature mix view: sampling shares normalize within rounding
    val wSum = spark.sql("SELECT SUM(w_e6) FROM temp_mix").collect()(0).getLong(0)
    assert(math.abs(wSum - 1000000L) <= 20, s"w_e6 sums to $wSum")
    // the boundary view covers exactly one partial bucket, and a kept
    // doc's running sum stays under the whole default budget
    assert(spark.sql("SELECT COUNT(DISTINCT bkt) FROM token_boundary").collect()(0).getLong(0) <= 1)
    assert(spark.sql(
      "SELECT COUNT(*) FROM token_boundary WHERE kept AND cum_before_doc >= 10000")
      .collect()(0).getLong(0) == 0)
    // span-scrub views compose: the census and the scrub agree per doc
    assert(spark.sql(
      "SELECT COUNT(*) FROM dup_spans c JOIN span_scrub s ON c.doc_id = s.doc_id " +
        "WHERE s.kept_tokens <> c.n_tokens - c.covered_tokens").collect()(0).getLong(0) == 0)
    // incremental BM25 view returns the batch top-10
    assert(spark.sql(
      "SELECT COUNT(*) FROM bm25_ingest i JOIN bm25_topk b " +
        "ON i.doc_id = b.doc_id AND i.rnk = b.rnk AND i.score_e4 = b.score_e4")
      .collect()(0).getLong(0) == 10)
    // round-8 views: DSIR selection is a prefix (no dropped doc outranks
    // a kept one), ppl buckets cover every scored doc with one of three
    // labels, the intra census never exceeds doc length, hard negatives
    // carry 5 ranked cross-label rows per anchor
    assert(spark.sql(
      "SELECT COUNT(*) FROM dsir_select d WHERE NOT kept AND imp_e6 > " +
        "(SELECT MIN(imp_e6) FROM dsir_select WHERE kept)").collect()(0).getLong(0) == 0)
    assert(spark.sql(
      "SELECT COUNT(*) FROM ppl_buckets WHERE bucket NOT IN ('head','middle','tail')")
      .collect()(0).getLong(0) == 0)
    assert(spark.sql("SELECT COUNT(*) FROM ppl_buckets").collect()(0).getLong(0) ==
      spark.sql("SELECT COUNT(*) FROM trigram_backoff").collect()(0).getLong(0))
    assert(spark.sql(
      "SELECT COUNT(*) FROM intra_spans WHERE covered_tokens > n_tokens")
      .collect()(0).getLong(0) == 0)
    assert(spark.sql(
      "SELECT COUNT(*) FROM (SELECT qid, COUNT(*) n, MAX(rnk) m FROM hard_negs " +
        "GROUP BY qid) WHERE n <> 5 OR m <> 5").collect()(0).getLong(0) == 0)
    // media-decode audits run against a MATERIALIZED snapshot of each
    // view: their predicates reference computed columns (ahash, width,
    // byte_rate, ...), and predicate pushdown substitutes the full
    // decode expression tree into the filter PER REFERENCE — the §4.4
    // duplication in expression form. Measured: the ahash audit alone
    // was 663 s of a 500-row fixture (1.17 MB physical plan, the
    // channel decode inlined 1360×) vs 2.8 s to evaluate the whole view.
    // The lazy-composition property is already exercised by the 40+
    // non-media views above; what these audits pin is the CONTENT.
    Seq("media_dims", "media_dims_mix", "wav_dims", "media_pixels",
      "media_ahash", "png_pixels").foreach { v =>
      spark.table(v).localCheckpoint(true).createOrReplaceTempView(v)
    }
    // round-9 views: no packed slot escapes its bin's context budget;
    // the PNG parse yields dims exactly for the non-corrupt payloads
    assert(spark.sql(
      s"SELECT COUNT(*) FROM packing_assign WHERE bin_offset + ctx > " +
        s"${graft.operators.CurationOps.PackContext}").collect()(0).getLong(0) == 0)
    assert(spark.sql(
      "SELECT COUNT(*) FROM media_dims WHERE (status = 'png') <> (width IS NOT NULL)")
      .collect()(0).getLong(0) == 0)
    // the mixed view sniffs magic bytes: every row resolves to a real
    // format or corrupt, and dims exist exactly for the parsed rows
    assert(spark.sql(
      "SELECT COUNT(*) FROM media_dims_mix WHERE status NOT IN ('png','jpeg','corrupt')" +
        " OR ((status <> 'corrupt') <> (width IS NOT NULL))")
      .collect()(0).getLong(0) == 0)
    // wav parse internal consistency: the recovered PCM fields reconcile
    // (byte rate = sample rate * block align) on every parsed row
    assert(spark.sql(
      "SELECT COUNT(*) FROM wav_dims WHERE status = 'wav'" +
        " AND byte_rate <> sample_rate * block_align")
      .collect()(0).getLong(0) == 0)
    // CMS audit: one-sided error on every probe row
    assert(spark.sql(
      "SELECT COUNT(*) FROM cms_freq WHERE est_count < n_exact OR over_e4 < 0")
      .collect()(0).getLong(0) == 0)
    // heavy hitters: every survivor's estimate clears the default 3% bar
    assert(spark.sql(
      "SELECT COUNT(*) FROM cms_heavy WHERE est_count * 10000 < 300 * n_total")
      .collect()(0).getLong(0) == 0)
    // alloc selection: one verdict per document, booleans only
    assert(spark.sql(
      "SELECT COUNT(*) FROM alloc_select WHERE kept IS NULL")
      .collect()(0).getLong(0) == 0)
    assert(spark.sql("SELECT COUNT(*) FROM alloc_select").collect()(0).getLong(0) ==
      spark.sql("SELECT COUNT(*) FROM documents").collect()(0).getLong(0))
    // exact quantiles: monotone in q, ranks inside [1, n]
    assert(spark.sql(
      "SELECT COUNT(*) FROM len_quantiles a JOIN len_quantiles b ON a.q_e2 < b.q_e2" +
        " AND a.value > b.value").collect()(0).getLong(0) == 0)
    assert(spark.sql(
      "SELECT COUNT(*) FROM len_quantiles WHERE rank < 1 OR rank > n_total")
      .collect()(0).getLong(0) == 0)
    // pixel decode: samples live in [0, 255], stats exist iff parsed,
    // and the channel stats reconcile (min <= sum/n <= max)
    assert(spark.sql(
      "SELECT COUNT(*) FROM media_pixels WHERE (status <> 'corrupt') <> (c0_sum IS NOT NULL)")
      .collect()(0).getLong(0) == 0)
    assert(spark.sql(
      "SELECT COUNT(*) FROM media_pixels WHERE status <> 'corrupt' AND" +
        " (c0_min < 0 OR c0_max > 255 OR c0_min * width * height > c0_sum" +
        " OR c0_max * width * height < c0_sum)")
      .collect()(0).getLong(0) == 0)
    // aHash: a hash exists iff the image parsed, and it fits the pixel
    // count (every set bit indexes a real pixel)
    assert(spark.sql(
      "SELECT COUNT(*) FROM media_ahash WHERE (status <> 'corrupt') <> (ahash IS NOT NULL)" +
        " OR (status <> 'corrupt' AND ahash >= CAST(pow(2, width * height) AS BIGINT))")
      .collect()(0).getLong(0) == 0)
    // the compressed-codec decode carries the exact mediaPixels contract
    assert(spark.sql(
      "SELECT COUNT(*) FROM png_pixels WHERE (status <> 'corrupt') <> (c0_sum IS NOT NULL)" +
        " OR (status <> 'corrupt' AND (c0_min < 0 OR c0_max > 255" +
        " OR c0_min * width * height > c0_sum OR c0_max * width * height < c0_sum))")
      .collect()(0).getLong(0) == 0)
    // diversity census: the type-token ratio is a genuine ratio (types
    // never exceed tokens, TTR in (0, 1e6]); bigram totals reconcile
    // (bigrams = tokens - docs per source would need a doc count — the
    // weaker invariant here: bigram count strictly below token count,
    // bigram types never exceed bigram count)
    assert(spark.sql(
      "SELECT COUNT(*) FROM diversity_census WHERE n_types > n_tokens" +
        " OR ttr_e6 <= 0 OR ttr_e6 > 1000000" +
        " OR n_bigram_types > n_bigrams OR n_bigrams >= n_tokens")
      .collect()(0).getLong(0) == 0)
    // served dedup index: registered AD HOC (the catalog itself stays
    // lazy — a served chain builds its index eagerly); estimates
    // bounded, and the view matches the Scala chain
    IndexFixtures.served(IndexFixtures.Dedup, spark, sf)
      .createOrReplaceTempView("dedup_served")
    assert(spark.sql(
      "SELECT COUNT(*) FROM dedup_served WHERE est_e4 < 5000 OR est_e4 > 10000")
      .collect()(0).getLong(0) == 0)
    assert(spark.sql("SELECT * FROM dedup_served").count() ==
      IndexFixtures.served(IndexFixtures.Dedup, spark, sf).count())
    // PPS sample: every selected doc carries ≥1 pin, cum strictly grows
    // with doc order, and the view matches the Scala chain
    assert(spark.sql(
      "SELECT COUNT(*) FROM pps_sample WHERE n_hits < 1 OR cum < w")
      .collect()(0).getLong(0) == 0)
    assert(spark.sql("SELECT * FROM pps_sample").count() ==
      graft.operators.CurationOps.ppsSample(docs).count())
  }

  test("compaction_weight resolves in SQL via session extensions") {
    val r = spark.sql(
      "SELECT compaction_weight(5000L, 50L, 40, CAST(0.1 AS DOUBLE)) AS w")
      .collect()(0).getAs[Double]("w")
    val expected = graft.functions.CompactionWeightExpr.compute(5000L, 50L, 40, 0.1)
    assert(r == expected)
  }

  test("salted_key resolves in SQL via session extensions (no manual registration)") {
    val r = spark.sql("SELECT salted_key('abcd') AS k").collect()(0).getAs[Array[Byte]](0)
    assert(r.length == 12)
    assert(r.toSeq == graft.functions.SaltedKeyImpl.compute("abcd".getBytes("UTF-8")).toSeq)
  }
}
