package graft

import java.nio.file.Files

import graft.cluster.ClusterViews
import org.apache.spark.sql.functions._

/** Explain-driven assertions: the physical plans the engine relies on at
  * 100 TB are checked mechanically, not by eyeball.
  */
class PlanQualitySpec extends SparkSpec {

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("bucketed co-located join runs without a shuffle exchange") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
      .getOrCreate()
    try {
      val li = graft.sources.Tables.lineitem(s, sf).select("l_orderkey", "l_quantity")
      val o = graft.sources.Tables.orders(s, sf).select("o_orderkey", "o_totalprice")
      graft.sources.Bucketing.writeBucketed(li, "li_b", "l_orderkey", 8)
      graft.sources.Bucketing.writeBucketed(o, "o_b", "o_orderkey", 8)
      val joined = s.table("li_b").join(s.table("o_b"),
        col("l_orderkey") === col("o_orderkey"))
      joined.count() // materialize with AQE final plan
      val plan = physical(joined)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(graft.sources.Bucketing.exchangeCount(joined) == 0)
    } finally {
      s.sql("DROP TABLE IF EXISTS li_b"); s.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("date-partitioned topology reads prune partitions on the as-of filter") {
    val dir = Files.createTempDirectory("graft_part").toString
    graft.sources.BulkOps.writeTopologySnapshot(ClusterViews.topology(spark, sf), s"$dir/topo")
    val pruned = spark.read.parquet(s"$dir/topo")
      .filter(col("snapshot_date") >= "1997-06-01")
    val plan = physical(pruned)
    // the filter must land in PartitionFilters (directory pruning), not
    // DataFilters/PushedFilters (row-level) — that's what keeps a
    // years-deep history scan proportional to the date range
    assert(plan.contains("PartitionFilters") && plan.contains("snapshot_date"),
      s"no partition pruning in:\n$plan")
    assert(!plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1").contains("snapshot_date"))
    val full = spark.read.parquet(s"$dir/topo")
    assert(pruned.count() < full.count() && pruned.count() > 0)
  }

  test("key-range lookup broadcasts the region boundary table (non-equi join)") {
    val plan = physical(SparkEntry.queries("key_lookup")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"), s"range join not broadcast:\n$plan")
  }

  test("binned key-range lookup is an equi-join on the bin — no nested loop") {
    val plan = physical(SparkEntry.queries("key_lookup_bin")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"binned range join degenerated:\n$plan")
    assert(plan.contains("Join") && plan.contains("bin"), s"no bin equi-join in:\n$plan")
  }

  test("star join broadcasts the dimension tables") {
    val plan = physical(SparkEntry.queries("revenue_nat")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast joins in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("no operator query plans a CartesianProduct") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = physical(SparkEntry.queries(name)(spark, sf))
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("dsir: ratio table joins by broadcast hash on the bucket; doc fold map-side combined") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val plan = physical(graft.operators.LmOps.dsirWeights(docs))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin [b#") || plan.contains("BroadcastHashJoin [b"),
      s"bucket-ratio join must broadcast the B-row table:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"per-doc fold must have a map-side partial aggregate:\n$plan")
  }

  test("knn graph: bucket-local equi joins only, no corpus-wide nested loop") {
    val embs = graft.sources.Tables.embeddings(spark, sf)
    val plan = physical(graft.operators.AnnOps.knnGraph(embs, spark))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"), s"cartesian in knn graph:\n$plan")
    // the candidate pair join must be an equi join KEYED ON THE BUCKET;
    // the only nested loops allowed are the 8-row plane replications
    // inside buckets() (BuildRight broadcast of a range, not the corpus)
    assert(plan.contains("Join [bucket") || plan.contains("Join [bucket#")
      || "(SortMerge|BroadcastHash|ShuffledHash)Join \\[bucket".r.findFirstIn(plan).nonEmpty,
      s"knn graph candidates must meet through the bucket equi-join:\n$plan")
    val nljNotPlaneReplication = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(_.contains("BuildRight, Cross")).toSeq
    assert(nljNotPlaneReplication.isEmpty,
      s"unexpected nested loop beyond the plane replication:\n$nljNotPlaneReplication")
  }

  test("corpus-derived dup/pair sets carry no forced broadcast hint") {
    // dedup_keep / curated anti-join the duplicate doc_id set; longest_span
    // joins the near-dup pair list. All three sets are O(corpus) at scale
    // (web dedup drops 30-50% of docs; pair lists hit billions), so a
    // broadcast *hint* is a scale-killer — AQE may still choose broadcast
    // at runtime when the set fits, which this gate deliberately allows.
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ResolvedHint, UnresolvedHint}
    val offenders = Seq("dedup_keep", "curated", "longest_span").flatMap { name =>
      val analyzed: LogicalPlan = SparkEntry.queries(name)(spark, sf).queryExecution.analyzed
      val hints = analyzed.collect {
        case h: ResolvedHint => h.toString
        case h: UnresolvedHint => h.toString
      }
      if (hints.nonEmpty) Some(s"$name: ${hints.mkString("; ")}") else None
    }
    assert(offenders.isEmpty, s"forced join hints on corpus-derived sets:\n${offenders.mkString("\n")}")
  }

  test("sharded asof join: broadcast right replication, window keyed by (key, shard)") {
    val plan = physical(SparkEntry.queries("asof_sharded")(spark, sf))
    // the hot key's rows must flow through numShards window partitions —
    // the whole point of the operator — so the exchange feeding the fill
    // window has to partition on BOTH the key and the shard
    assert("hashpartitioning\\(region_id#\\d+L?, __shard".r.findFirstIn(plan).isDefined,
      s"window not sharded:\n$plan")
    // the right-slice replication is a broadcast of the tiny shard range,
    // never a shuffle of the right side per shard
    assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("IdentityBroadcastMode"),
      s"shard replication not broadcast:\n$plan")
  }

  test("df-cap guard is in the physical jaccard plan, computed once into the shared cache") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("dedup_jaccard")(spark, sf))
    assert(plan.contains("__df"), s"df-cap filter missing from:\n$plan")
    // the cap window materializes into the cached capped-postings relation
    // (one x31 shuffle total), not once per self-join side
    assert("Filter \\(__df#\\d+L <= 128\\)".r.findFirstIn(plan).isDefined, s"cap not 128 in:\n$plan")
    assert(plan.contains("InMemoryRelation"), s"capped postings not shared via cache:\n$plan")
  }

  test("pq rerank: the exact stage broadcast-fetches the shortlist, never shuffles the corpus") {
    val plan = physical(SparkEntry.queries("pq_rerank")(spark, sf))
    // two broadcast joins in the rescore stage: the |q|*shortlist pair
    // list fetching its vectors from the corpus scan, and the query
    // vectors attaching to the fetched candidates
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"rerank stage not broadcast-joined:\n$plan")
  }

  test("containment projects from the same cached pair-stats frame as jaccard") {
    spark.catalog.clearCache()
    // force the shared materialization the way a mixed workload would:
    // run jaccard first, then containment must read the SAME InMemoryRelation
    SparkEntry.queries("dedup_jaccard")(spark, sf).count()
    val plan = physical(SparkEntry.queries("dedup_containment")(spark, sf))
    assert(plan.contains("InMemoryRelation"),
      s"containment did not reuse the cached pair-stats frame:\n$plan")
    // and its score really is the min-denominator, not a second self-join
    assert(!plan.contains("SortMergeJoin") ||
      plan.indexOf("InMemoryTableScan") >= 0,
      s"containment re-ran the pair self-join:\n$plan")
  }

  test("multi-probe fan-out ships slim probe rows, never the vector payload") {
    val plan = physical(SparkEntry.queries("emb_near_dups_mp")(spark, sf))
    // the 9x probe explode must carry only (vec_id, probe) — a Generate
    // whose output includes the embedding array would multiply the bytes
    // every downstream exchange ships by planes+1
    val gens = "Generate explode[^\n]*".r.findAllIn(plan).toList
    assert(gens.nonEmpty, s"no probe explode in:\n$plan")
    gens.foreach { g =>
      assert(!g.contains("v#") && !g.contains("embedding"),
        s"probe explode carries the vector payload: $g")
    }
  }

  test("text ops prune the documents scan to referenced columns") {
    // a scan that reads lang/source for a (doc_id, text) operator ships
    // unneeded bytes from every parquet row group at 100 TB. Clear the
    // cache first: with a full-width documents subtree cached by another
    // suite, CacheManager substitution (intended shared-materialization
    // behavior) would put that build-side scan in this plan and mask the
    // pure-plan pruning property under test.
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("token_count")(spark, sf))
    val readSchemas = "ReadSchema: [^\n]*".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty, s"no ReadSchema in:\n$plan")
    readSchemas.foreach { rs =>
      assert(!rs.contains("lang") && !rs.contains("source"),
        s"documents scan not pruned: $rs")
    }
  }

  test("chunker is shuffle-free — pure per-row windows") {
    val plan = physical(SparkEntry.queries("chunks")(spark, sf))
    assert(!plan.contains("Exchange"), s"chunking shuffles:\n$plan")
  }

  test("media header decodes are scan-local — zero exchanges, no UDF") {
    for (q <- Seq("media_dims", "jpeg_dims", "media_dims_mix", "wav_dims", "media_sniff",
        "media_pixels", "media_ahash")) {
      val plan = physical(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Exchange"), s"$q shuffles:\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$q fell out of codegen into a UDF:\n$plan")
    }
  }

  test("operator cache registration honors the graft.cache.enabled opt-out") {
    import org.apache.spark.sql.graftbridge.CacheProbe
    // CacheManager matches by canonical plan, so earlier suites' entries
    // would mask the disabled path — start from a clean cache
    spark.catalog.clearCache()
    try {
      spark.conf.set(graft.Caching.EnabledKey, "false")
      val postings = graft.operators.DedupOps.postingsForProfile(
        graft.sources.Tables.documents(spark, sf))
      assert(!CacheProbe.isCached(postings), "cache registered despite opt-out")
    } finally spark.conf.unset(graft.Caching.EnabledKey)
    val postings = graft.operators.DedupOps.postingsForProfile(
      graft.sources.Tables.documents(spark, sf))
    assert(CacheProbe.isCached(postings), "default caching no longer registers")
    graft.Caching.release(spark)
    assert(!CacheProbe.isCached(postings), "release() left cached entries behind")
  }

  test("a repeated cluster view registers once: no already-cached WARN, same entry count") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.graftbridge.CacheProbe
    val warned = new java.util.concurrent.atomic.AtomicInteger()
    val appender = new AbstractAppender("graft-cache-warn", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("already cached")) warned.incrementAndGet()
    }
    appender.start()
    // on the root logger, where CacheManager's events arrive additively
    val logger = LogManager.getRootLogger.asInstanceOf[Logger]
    logger.addAppender(appender)
    graft.Caching.release(spark)
    try {
      ClusterViews.regionMetrics(spark, sf)
      val entries = CacheProbe.entries(spark)
      ClusterViews.regionMetrics(spark, sf)
      assert(warned.get == 0, "a second view call asked to cache an already cached plan")
      assert(CacheProbe.entries(spark) == entries, "a second view call added a cache entry")
    } finally {
      logger.removeAppender(appender)
      appender.stop()
      graft.Caching.release(spark)
    }
  }

  test("bm25 filters the token stream to query terms BELOW the tf shuffle") {
    val plan = physical(SparkEntry.queries("bm25_topk")(spark, sf))
    // the IN-filter must sit under the (doc_id, token) aggregate exchange:
    // the shuffle carries only matching postings, never the full corpus
    // explode. Plans print top-down, so "below" = later in the text.
    val filterIdx = "\\btoken#\\d+ IN \\(join,merge,scan\\)|INSET".r
      .findFirstMatchIn(plan).map(_.start)
    val exchIdx = "Exchange hashpartitioning\\(doc_id#\\d+L?, token#\\d+".r
      .findFirstMatchIn(plan).map(_.start)
    assert(filterIdx.isDefined, s"query-term filter missing:\n$plan")
    assert(exchIdx.isDefined, s"tf aggregate exchange missing:\n$plan")
    assert(filterIdx.get > exchIdx.get,
      s"term filter sits above the tf shuffle — full corpus would shuffle:\n$plan")
    // map-side combine on the tf aggregate
    assert(plan.contains("partial_count"), s"no partial aggregation:\n$plan")
    // the substring pre-filter keeps non-candidate docs out of the
    // explode: a Contains filter must sit below the Generate
    val containsIdx = "Contains\\(text#\\d+, join\\)".r.findFirstMatchIn(plan).map(_.start)
    val generateIdx = "Generate explode".r.findFirstMatchIn(plan).map(_.start)
    assert(containsIdx.isDefined && generateIdx.isDefined &&
      containsIdx.get > generateIdx.get,
      s"candidate pre-filter not below the explode:\n$plan")
  }

  test("bm25_multi: term semi-join prunes the token stream below the tf shuffle") {
    val plan = physical(SparkEntry.queries("bm25_multi")(spark, sf))
    // the table-input analogue of the literal isin gate above: a
    // broadcast LEFT-SEMI against the distinct term set must collapse
    // the corpus explode before the (doc_id, token) aggregate exchange
    val semiIdx = "LeftSemi, BuildRight".r.findFirstMatchIn(plan).map(_.start)
    val exchIdx = "Exchange hashpartitioning\\(doc_id#\\d+L?, token#\\d+".r
      .findFirstMatchIn(plan).map(_.start)
    assert(semiIdx.isDefined, s"term semi-join missing:\n$plan")
    assert(exchIdx.isDefined, s"tf aggregate exchange missing:\n$plan")
    assert(semiIdx.get > exchIdx.get,
      s"term semi-join sits above the tf shuffle — full corpus would shuffle:\n$plan")
    assert(plan.contains("partial_count"), s"no partial aggregation:\n$plan")
  }

  test("zorder bins (2-D and 3-D): stats broadcast to a narrow map, one hash shuffle total") {
    for (q <- Seq("zorder_bins", "zorder_bins_3d")) {
      val plan = physical(SparkEntry.queries(q)(spark, sf))
      // min/max stats attach via a 1-row broadcast, never a shuffle join
      assert(plan.contains("BroadcastNestedLoopJoin"), s"$q: stats not broadcast:\n$plan")
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(hashExchanges == 1,
        s"$q: expected exactly the bin-aggregate shuffle, got $hashExchanges:\n$plan")
      // the morton interleave is inline expression code, not a UDF
      assert(plan.contains("shiftleft") && !plan.toLowerCase.contains("batchevalpython"),
        s"$q: morton not an inline expression tree:\n$plan")
    }
  }

  test("profiler: per-column pruned passes, no Expand row multiplication") {
    // the profiler materializes one COLUMN-PRUNED aggregation per column
    // concurrently (§2.6) — the returned frame is a union of the
    // checkpointed one-row results
    val profiled = SparkEntry.queries("profile")(spark, sf)
    val plan = physical(profiled)
    assert(!plan.contains("Expand"),
      s"per-column profiling must not plan the Expand multi-distinct:\n$plan")
    // each column's own pass reads EXACTLY its one column (pruned scan)
    // and plans the cheap two-level distinct, not an Expand
    val onePass = graft.operators.DataLayoutOps
      .profilePassForPlanCheck(graft.sources.Tables.lineitem(spark, sf), "l_partkey")
    val passPlan = physical(onePass)
    assert(!passPlan.contains("Expand"), s"single-column pass plans Expand:\n$passPlan")
    assert(passPlan.contains("ReadSchema: struct<l_partkey"),
      s"the per-column scan must be pruned to its one column:\n$passPlan")
  }

  test("co-activity overlap join meets through the bin equi-join, never a nested loop") {
    val plan = physical(SparkEntry.queries("co_activity")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join fell back to a nested loop:\n$plan")
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[bin#".r.findFirstIn(plan).isDefined ||
      plan.contains("bin#"),
      s"bin not a join key:\n$plan")
  }

  test("nb classifier: no cartesian — nested loops are only the broadcast scalar frames") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("nb_score")(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian in nb plan:\n$plan")
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nlj <= 2, s"expected at most the totals+priors scalar loops, got $nlj:\n$plan")
  }

  test("temperature mix: one corpus shuffle — everything after runs on |sources| rows") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("temp_mix")(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian in temp_mix plan:\n$plan")
    // the cached |sources|-row frame reprints its build plan at every
    // InMemoryTableScan reference — count DISTINCT exchanges, not prints
    val hashEx = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(plan).toSet
    assert(hashEx.size <= 1,
      s"expected at most the one source-groupBy exchange, got $hashEx:\n$plan")
  }

  test("compaction plan keeps the candidate filter below the per-server window shuffle") {
    val df = SparkEntry.queries("compaction_plan")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // WindowGroupLimit (rank pushdown) must be present so only top-k rows shuffle
    assert(plan.contains("WindowGroupLimit"), s"rank pushdown missing:\n$plan")
  }

  test("hard negatives: the bounded anchor set broadcasts; the corpus never self-joins") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("hard_negs")(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian in hard_negs:\n$plan")
    // the label-inequality join is non-equi, so it must be a broadcast
    // nested loop with the 10-anchor side as the build — never a
    // corpus×corpus loop
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the broadcast anchor join:\n$plan")
  }

  test("dsir selection: boundary-band frames broadcast; the corpus holds one window") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("dsir_select")(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian in dsir_select:\n$plan")
    // the <=1-row partial-band frame joins by broadcast, not shuffle
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"partial-band join must broadcast:\n$plan")
    // the only corpus-wide window is dsirWeights' bigram lead; the
    // selection itself windows over the census (rangepartitioning
    // exchanges stay bounded: census band order + boundary band)
    val rangeEx = "Exchange rangepartitioning\\([^)]*\\)".r.findAllIn(plan).toSet
    assert(rangeEx.size <= 2, s"unexpected global sorts: $rangeEx\n$plan")
  }

  test("kmv sketches: two-phase k-min — no corpus-wide range sort of the hash stream") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("kmv_vocab")(spark, sf))
    // phase one prunes per partition (spark_partition_id window needs no
    // exchange); the global window sorts <= k·partitions rows in ONE
    // single-partition exchange — never a rangepartitioning total order
    assert(!plan.contains("Exchange rangepartitioning"),
      s"kmv must not total-order the hash stream:\n$plan")
    assert(plan.contains("SinglePartition"),
      s"expected the k-row single-partition merge:\n$plan")
  }

  test("ppl buckets: censuses aggregate map-side; the corpus joins back by (lang, score)") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("ppl_buckets")(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian in ppl_buckets:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"census must map-side combine:\n$plan")
  }

  test("exact quantiles: no corpus-wide range sort — the census locates, broadcasts resolve") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("len_quantiles")(spark, sf))
    assert(!plan.contains("Exchange rangepartitioning"),
      s"exact quantiles must never total-order the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"target buckets must reach the corpus by broadcast:\n$plan")
  }

  test("id quantiles (dense-distinct adversary): still census-shaped, never a corpus sort") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("id_quantiles")(spark, sf))
    assert(!plan.contains("Exchange rangepartitioning"),
      s"exact quantiles must never total-order the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"target (sub-)buckets must reach the corpus by broadcast:\n$plan")
  }

  test("shuffled quantiles twin: NO broadcast anywhere — every census join shuffles on grp") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("len_quantiles_user")(spark, sf))
    assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastHashJoin"),
      s"a |groups|-sized broadcast of a user_id-grade key is the scale-killer " +
        s"this twin exists to avoid:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"must never total-order the corpus:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in len_quantiles_user:\n$plan")
  }

  test("tombstone-masked serves keep their scan shapes: probe-pruned postings, no corpus scan") {
    spark.catalog.clearCache()
    graft.contract.IndexFixtures.clear()
    val annDel = SparkEntry.queries("ann_deleted")(spark, sf)
    val annPlan = annDel.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the probed center set is a STATIC partition filter on the postings
    // scan (pruning by construction — formerly the DPP heuristic); the
    // tombstone mask must not break it
    val annSimple = annDel.queryExecution.executedPlan.toString
    val annScanLine = annSimple.linesIterator
      .dropWhile(l => !(l.contains("FileScan") && l.contains("/postings")))
      .take(1).mkString
    val annPf = annScanLine.dropWhile(_ != 'P')
      .replaceAll(".*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
    assert(annScanLine.contains("PartitionFilters") && annPf.contains("center#") &&
      (annPf.contains(" IN ") || annPf.contains("INSET") || annPf.contains("= ")),
      s"the tombstone mask must not break probe-side partition pruning:\n$annSimple")
    assert(!annPlan.contains("embeddings.parquet"),
      s"deleted serve must still never scan the corpus vectors:\n$annPlan")
    assert(annPlan.contains("LeftAnti"),
      s"the tombstone mask must be an anti-join, not a recomputation:\n$annPlan")
    val bmDel = SparkEntry.queries("bm25_deleted")(spark, sf)
    val bmPlan = bmDel.queryExecution.executedPlan.toString
    assert(!bmPlan.contains("documents.parquet"),
      s"deleted BM25 serve must not rescan corpus text:\n$bmPlan")
    assert(bmPlan.contains("LeftAnti") && bmPlan.contains("BroadcastExchange"),
      s"tombstones must mask by broadcast anti-join:\n$bmPlan")
  }

  test("diversity census: both branches read ONE cached corpus tokenize") {
    spark.catalog.clearCache()
    val exec0 = SparkEntry.queries("diversity_census")(spark, sf)
      .queryExecution.executedPlan
    val exec = exec0 match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    // the unigram and bigram branches must converge on the cached parse:
    // every leaf is an InMemoryTableScan of the shared tokenize — the
    // raw documents FileScan lives only inside the cached relation's
    // build plan, never at the query's own leaves (which would mean a
    // second corpus parse)
    val leaves = exec.collectLeaves().map(_.getClass.getSimpleName)
    assert(leaves.count(_.contains("InMemoryTableScan")) >= 2,
      s"both census branches must read the cache, leaves: $leaves")
    assert(!leaves.exists(_.contains("FileSourceScan")),
      s"no branch may re-parse the corpus, leaves: $leaves")
  }

  test("sort bounds: distributed rank — no unpartitioned window over the sample") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("sort_bounds")(spark, sf))
    assert(plan.contains("Exchange rangepartitioning"),
      s"the sample's total order must come from a range SHUFFLE, not one window task:\n$plan")
    // every row_number window (the per-row rank over the sample) must be
    // partitioned by pid; the only unpartitioned window allowed is the
    // prefix-offset sum over the per-partition count census
    plan.linesIterator.filter(_.contains("row_number()")).foreach { l =>
      assert(l.contains("pid"),
        s"sample-sized window must be partitioned by the range-partition id:\n$l\n$plan")
    }
  }

  test("pps sample: distributed prefix sum — no unpartitioned window over the corpus") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("pps_sample")(spark, sf))
    assert(plan.contains("Exchange rangepartitioning"),
      s"the priority total order must come from a range SHUFFLE, not one window task:\n$plan")
    // the per-row running sum must be partitioned by the range-partition
    // id; the only unpartitioned window allowed is the prefix-offset sum
    // over the per-partition weight census (≤ shuffle-partitions rows)
    plan.linesIterator.filter(l => l.contains("Window") && l.contains("unboundedpreceding"))
      .foreach { l =>
        assert(l.contains("pid") || l.contains("pw"),
          s"corpus-sized window must be partitioned by pid (census windows exempt):\n$l\n$plan")
      }
    assert(!plan.contains("CartesianProduct"), s"cartesian in pps_sample:\n$plan")
    // the grouped twin goes further: NO unpartitioned window at all —
    // every window (running sums AND census offsets) partitions by source
    spark.catalog.clearCache()
    val srcPlan = physical(SparkEntry.queries("pps_sample_src")(spark, sf))
    assert(srcPlan.contains("Exchange rangepartitioning"),
      s"the grouped prefix sum still range-shuffles:\n$srcPlan")
    srcPlan.linesIterator.filter(l => l.contains("Window") && l.contains("unboundedpreceding"))
      .foreach { l =>
        assert(l.contains("source"),
          s"every window in the grouped twin must partition by source:\n$l\n$srcPlan")
      }
  }

  test("served BM25 reads the stored index only — token filter pushed, no text scan") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("bm25_served")(spark, sf))
    assert(!plan.contains("documents.parquet"),
      s"serve must not touch the corpus text:\n$plan")
    assert(plan.contains("postings") && plan.contains("lens"),
      s"expected the two stored index scans:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"the term filter must reach the postings scan:\n$plan")
  }

  test("cms sketch: the probe joins the d·w-row sketch by broadcast, counters combine map-side") {
    spark.catalog.clearCache()
    val plan = physical(SparkEntry.queries("cms_freq")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"the sketch probe must broadcast the counter table:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in cms_freq:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"counter cells must map-side combine before the shuffle:\n$plan")
  }
}
