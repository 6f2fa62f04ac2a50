package graft.operators

import graft.QueryPack
import graft.contract.IndexFixtures
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, and a random-
  * hyperplane LSH-bucketed variant as the scale path, plus LSH-blocked
  * embedding near-dup detection.
  *
  * FP-parity rules: every dot product and norm is a sequential left fold
  * (index order) with per-element float→double widening — native codegen
  * kernels in `functions/VectorExprs` (bit-identical to a cast-then-HOF
  * fold, ~4x faster, and the stage stays in whole-stage codegen); scores
  * leave the operator as scaled ints and ALL ranking happens on those ints.
  *
  * Scale design: norms and buckets are computed once per vector (linear
  * scan); brute-force pairs only ever form query×corpus (bounded query
  * set) or bucket-blocked joins — never unblocked N².
  */
object AnnOps {

  val Dim = 64
  val NumPlanes = 8

  import graft.functions.VectorExprs.{plane_dot, vec_dot, vec_sumsq}

  private def dot(a: Column, b: Column): Column = vec_dot(a, b)

  /** vec_id, v (raw float[] — vec_dot widens per element, identical
    * doubles to a cast-then-fold), norm. Keeping the float array halves
    * the bytes every downstream join shuffles/broadcasts. Cached: this IS
    * the vector index every ANN query starts from (brute/LSH/IVF/recall
    * all join it, some twice per plan) — materializing it once is what a
    * vector store does; MEMORY_AND_DISK spills past storage capacity. */
  def normalized(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(vec_sumsq(col("v"))))
      .transform(graft.Caching.maybeCache)

  /** Deterministic integer hyperplane weight w(j, d) = ((j*67 + d*31) % 19) - 9. */
  private def planeDot(v: Column, j: Column): Column = plane_dot(v, j)

  /** Per-vector LSH bucket: sign bits of `numPlanes` hyperplane
    * projections. The plane count is the blocking-granularity knob:
    * E[honest bucket] = N / 2^planes, so it scales with the corpus —
    * 8 planes for fixture-scale corpora, 16+ at billions of vectors
    * (the 16-plane variant is oracled as `emb_near_dups_16p`). Raising
    * the plane count only ever SPLITS buckets (bucket bits are a
    * prefix), so candidates at p+k planes are a subset of candidates
    * at p planes — pinned by a test. */
  def buckets(normalized: DataFrame, spark: SparkSession, numPlanes: Int = NumPlanes): DataFrame = {
    val planes = spark.range(numPlanes).withColumnRenamed("id", "j")
    normalized
      .crossJoin(broadcast(planes))
      .select(col("vec_id"),
        when(planeDot(col("v"), col("j")) > 0, expr("cast(pow(2, j) as bigint)"))
          .otherwise(lit(0L)).as("bit"))
      .groupBy("vec_id")
      .agg(sum(col("bit")).as("bucket"))
  }

  private[operators] def cosineE4(va: Column, vb: Column, na: Column, nb: Column): Column =
    floor(dot(va, vb) / (na * nb) * 10000 + 0.5).cast("long")

  /** Brute-force cosine top-k: query set × corpus, ranked per query on the
    * scaled-int score. */
  def bruteTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val n = normalized(embeddings)
    val queries = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = n
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosineE4(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine_e4"))
    val w = Window.partitionBy("qid").orderBy(col("cosine_e4").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Matryoshka-truncated ANN: brute cosine over the first `dims`-dim
    * PREFIX of each embedding (Kusupati et al., "Matryoshka
    * Representation Learning": nested prefixes trained to stand alone as
    * embeddings). The production pattern: score the corpus at the cheap
    * prefix — dims/64 of the bytes shuffled and multiplies per distance
    * — then optionally rerank survivors at full width, the same
    * shortlist-rescore shape as [[PqOps.pqRerankTopK]]. The recall
    * ladder (`trunc_recall` @16, `trunc8_recall` @8) measures what
    * truncation costs on THIS corpus; fixture embeddings are not
    * Matryoshka-trained, so those rows are the honest floor, not the
    * advertised MRL quality. */
  def truncTopK(embeddings: DataFrame, dims: Int = 16, nQueries: Int = 10, k: Int = 5): DataFrame =
    bruteTopK(
      embeddings.select(col("vec_id"), slice(col("embedding"), 1, dims).as("embedding")),
      nQueries, k)

  /** Truncated-prefix scan + full-width rerank: shortlist at the cheap
    * prefix, rescore only the survivors with the full vectors
    * (broadcast-fetched — the [[PqOps.pqRerankTopK]] shape; nothing
    * corpus-sized shuffles in the rerank stage). The ladder row
    * `truncr_recall` measures how much of the prefix's recall loss the
    * rerank buys back at `shortlist`/corpus fetch cost. */
  def truncRerankTopK(
      embeddings: DataFrame, dims: Int = 16, nQueries: Int = 10,
      k: Int = 5, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val short = truncTopK(embeddings, dims, nQueries, shortlist).select("qid", "vec_id")
    val n = normalized(embeddings)
    val queries = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val rescored = n
      .join(broadcast(short), Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        cosineE4(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine_e4"))
    val w = Window.partitionBy("qid").orderBy(col("cosine_e4").desc, col("vec_id"))
    rescored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Metadata-filtered ANN ("filtered vector search"): cosine top-k
    * restricted to corpus vectors whose label matches the predicate. The
    * filter applies to the corpus side BEFORE any distance is computed —
    * pre-filtering, the shape that stays exact and gets FASTER as the
    * predicate narrows, vs post-filtering a top-k whose recall collapses
    * under selective predicates. At 100 TB the label predicate pushes
    * into the vector-store scan like any other column filter. */
  /** Hard-negative mining for contrastive training: per anchor (query
    * vector), the k HIGHEST-cosine vectors carrying a DIFFERENT label —
    * the negatives closest to the anchor, which dominate the gradient in
    * InfoNCE-style objectives (Robinson et al. 2021, "Contrastive
    * Learning with Hard Negative Samples"; the mining step every
    * embedding-model training pipeline runs between epochs).
    *
    * Shape: [[filteredTopK]]'s labeled scan with the label test moved
    * into the join condition (per-anchor `label != qlabel` instead of a
    * global equality). The label join shuffles two SLIM frames on
    * vec_id once; at production scale the label lives as one more
    * column of the vector index (normalized-frame analogue), making
    * this a pure broadcast-query scan, and the probed variant filters
    * labels inside IVF posting lists exactly as filtered search does. */
  def hardNegatives(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val n = normalized(embeddings)
    val lab = embeddings.select(col("vec_id"), col("label"))
    val queries = n.join(lab, Seq("vec_id")).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = n.join(lab, Seq("vec_id"))
      .join(broadcast(queries),
        col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"), col("label"),
        cosineE4(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine_e4"))
    val w = Window.partitionBy("qid").orderBy(col("cosine_e4").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  def filteredTopK(
      embeddings: DataFrame, labelVal: Int = 3,
      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val n = normalized(embeddings)
    val queries = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val corpus = n.join(
      embeddings.select(col("vec_id"), col("label")).filter(col("label") === labelVal),
      Seq("vec_id"))
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosineE4(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine_e4"))
    val w = Window.partitionBy("qid").orderBy(col("cosine_e4").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** LSH-bucketed ANN: candidates share the query's hyperplane bucket. */
  def lshTopK(embeddings: DataFrame, spark: SparkSession, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val n = normalized(embeddings)
    val b = buckets(n, spark)
    val nb = n.join(b, "vec_id")
    val queries = nb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
    val scored = queries
      .join(nb, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosineE4(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine_e4"))
    val w = Window.partitionBy("qid").orderBy(col("cosine_e4").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** IVF (inverted-file) ANN, probe-1: the coarse quantizer is the set of
    * per-label centroids (a k-means stand-in — centers are integer-exact,
    * see EmbeddingStatsOps); every vector is assigned to its nearest
    * center by exact integer squared distance; a query probes only its
    * own center's posting list. At 100 TB the centers table is broadcast
    * (k×dim, tiny) and posting lists are the shuffle partitioning. */
  /** (vec_id, center, rn): each vector's nprobe nearest coarse centers by
    * exact integer squared distance, rn = 1 is the assignment. */
  def ivfAssignmentsRanked(embeddings: DataFrame, nprobe: Int): DataFrame = {
    val q = EmbeddingStatsOps.quantized(embeddings).select("vec_id", "dim", "xq")
    val centers = EmbeddingStatsOps.centroids(embeddings)
      .select(col("label").as("center"), col("dim"), col("centroid_q"))
    val dist = q
      .join(broadcast(centers), Seq("dim"))
      .withColumn("d", col("xq") - col("centroid_q"))
      .groupBy("vec_id", "center")
      .agg(sum(col("d") * col("d")).as("dist2_q"))
    val w = Window.partitionBy("vec_id").orderBy(col("dist2_q"), col("center"))
    // cached ABOVE the nprobe filter: ivfTopK reads the ranking twice
    // (corpus rn=1 side + query probe side) and the probe-1/probe-2/
    // recall variants differ only in the filter, so every consumer
    // shares ONE materialization of the k-small ranked distance table
    graft.Caching.maybeCache(dist.withColumn("rn", row_number().over(w)))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id"), col("center"), col("rn"))
  }

  def ivfAssignments(embeddings: DataFrame): DataFrame =
    ivfAssignmentsRanked(embeddings, 1).select("vec_id", "center")

  /** Incremental IVF index maintenance: assign a NEW ingest batch (the
    * top 20% of vec_ids — an in-query watermark, a date/partition
    * predicate in production) to the nearest coarse center trained on
    * the EXISTING corpus only. This is the ingest path of an IVF index:
    * new vectors take posting-list assignments without re-training or
    * re-clustering the corpus, the ANN twin of [[DedupOps.incrDedup]].
    *
    * Row-wise shape (same as [[EmbeddingStatsOps.kmeans2]]'s assign
    * stage): centers collapse to k broadcast arrays, distances are one
    * zip_with fold per (vector, center), and the argmin is a map-side
    * combinable min(struct) — the batch never shuffles its vector
    * payload, only |batch|·k slim distance rows feed the argmin. */
  def ivfAssignIncremental(embeddings: DataFrame): DataFrame = {
    val wm = embeddings.agg(expr("(MAX(vec_id) * 4) DIV 5").as("wm"))
    val e = embeddings.crossJoin(broadcast(wm))
    val old = e.filter(col("vec_id") < col("wm")).drop("wm")
    val centers = EmbeddingStatsOps.centroids(old)
      .select(col("label").cast("long").as("center"), col("dim"), col("centroid_q"))
    val carr = centers.groupBy("center")
      .agg(array_sort(collect_list(struct(col("dim"), col("centroid_q")))).as("s"))
      .select(col("center"), expr("transform(s, p -> p.centroid_q)").as("carr"))
    e.filter(col("vec_id") >= col("wm"))
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000 + 0.5) as bigint))")
          .as("xq"))
      .crossJoin(broadcast(carr))
      .select(col("vec_id"), col("center"),
        expr("aggregate(zip_with(xq, carr, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
          .as("dist2_q"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist2_q"), col("center"))).as("best"))
      .select(col("vec_id"), col("best.center").as("center"),
        col("best.dist2_q").as("dist2_q"))
  }

  /** IVF top-k with probe-N: the corpus side stays partitioned by its
    * rn=1 assignment (the posting lists); only the bounded query set
    * fans out to its nprobe nearest centers, so recall rises with no
    * change to the big side's layout — the standard IVF recall knob. */
  def ivfTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5, nprobe: Int = 1): DataFrame = {
    val n = normalized(embeddings)
    val ranked = ivfAssignmentsRanked(embeddings, nprobe)
    val assigned = n.join(ranked.filter(col("rn") === 1).select("vec_id", "center"), "vec_id")
    val queries = n
      .join(ranked.select("vec_id", "center"), "vec_id")
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"), col("center"))
    val scored = queries
      .join(assigned, Seq("center"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosineE4(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine_e4"))
    val w = Window.partitionBy("qid").orderBy(col("cosine_e4").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Int8 scalar quantization: per-vector scale = max|v_d|, codes
    * q_d = floor(v_d / scale * 127 + 0.5) in [-127, 127]. Quartering the
    * bytes is the point at 100 TB — the corpus side of every ANN join
    * shuffles/broadcasts int8-sized codes instead of floats, and the
    * integer dot products are exact (no FP-order concerns at all). */
  def quantizedSq8(embeddings: DataFrame): DataFrame = {
    val vd = transform(col("embedding"), x => x.cast("double"))
    val scale = array_max(transform(col("v"), x => abs(x)))
    embeddings
      .select(col("vec_id"), vd.as("v"))
      .withColumn("scale", scale)
      .select(
        col("vec_id"), col("scale"),
        when(col("scale") === 0.0, transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"),
            x => floor(x / col("scale") * 127.0 + 0.5).cast("long")))
          .as("q"))
      .withColumn("qn", sqrt(aggregate(col("q"), lit(0L), (a, x) => a + x * x).cast("double")))
  }

  /** Brute-force top-k over the int8 codes: the approximate twin of
    * [[bruteTopK]] — integer dot product, ranked on the quantized cosine.
    * Exact integer arithmetic end-to-end until the final divide, so the
    * oracle agrees bit-for-bit. */
  def sq8TopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val q = quantizedSq8(embeddings)
    val queries = q.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("qn").as("qqn"))
    val scored = q
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        floor(
          aggregate(zip_with(col("qq"), col("q"), (a, b) => a * b), lit(0L), (a, x) => a + x)
            .cast("double") / (col("qqn") * col("qn")) * 10000 + 0.5)
          .cast("long").as("cos8_e4"))
    val w = Window.partitionBy("qid").orderBy(col("cos8_e4").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Recall@k of an approximate index against the exact brute-force
    * ranking — the self-evaluation loop an ANN deployment runs on a
    * sampled query set before trusting the index at full scale; the
    * more lossy the index (PQ most of all), the more this number is the
    * first thing its operator asks for. `index` picks the candidate
    * under test: "lsh", "ivf", "ivf2" (probe-2), "sq8", "pq", or
    * "pq_rerank" (PQ shortlist + exact re-rank).
    * recall_e4 = round(n_common / k * 1e4), exact for any k (not just
    * divisors of 10000). */
  def annRecall(
      embeddings: DataFrame,
      spark: SparkSession,
      nQueries: Int = 10,
      k: Int = 5,
      index: String = "lsh"): DataFrame = {
    val brute = bruteTopK(embeddings, nQueries, k).select("qid", "vec_id")
    val approx = (index match {
      case "lsh" => lshTopK(embeddings, spark, nQueries, k)
      case "ivf" => ivfTopK(embeddings, nQueries, k)
      case "ivf2" => ivfTopK(embeddings, nQueries, k, nprobe = 2)
      case "sq8" => sq8TopK(embeddings, nQueries, k)
      case "pq" => PqOps.pqTopK(embeddings, nQueries, k)
      case "pq_rerank" => PqOps.pqRerankTopK(embeddings, nQueries, k)
      case "ivfpq" => PqOps.ivfPqTopK(embeddings, nQueries, k)
      case "ivfpq_rerank" => PqOps.ivfPqRerankTopK(embeddings, nQueries, k)
      case "ivfpq_res" => PqOps.ivfPqResidualTopK(embeddings, nQueries, k)
      case "ivfpq_res_t" => PqOps.ivfPqResidualTrainedTopK(embeddings, nQueries, k)
      case "ivfpq_res_ts" =>
        PqOps.ivfPqResidualTrainedTopK(embeddings, nQueries, k, trainPct = Some(50))
      case "trunc16" => truncTopK(embeddings, dims = 16, nQueries = nQueries, k = k)
      case "trunc8" => truncTopK(embeddings, dims = 8, nQueries = nQueries, k = k)
      case "trunc_rerank" => truncRerankTopK(embeddings, nQueries = nQueries, k = k)
      case other => throw new IllegalArgumentException(
        s"unknown ANN index '$other' " +
          "(expected lsh/ivf/ivf2/sq8/pq/pq_rerank/ivfpq/ivfpq_rerank/ivfpq_res/ivfpq_res_t/ivfpq_res_ts/trunc16/trunc8)")
    }).select("qid", "vec_id")
    val common = brute.join(approx, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_common"))
    brute.groupBy("qid").agg(count(lit(1)).as("n_brute"))
      .join(common, Seq("qid"), "left")
      .select(col("qid"), col("n_brute"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        floor(coalesce(col("n_common"), lit(0L)).cast("double") * 10000.0 / k + 0.5)
          .cast("long").as("recall_e4"))
  }

  /** SemDeDup-style cross-modal dedup: embedding near-dup pairs (LSH-
    * blocked cosine) verified against lexical n-gram Jaccard over the
    * paired documents. High-cosine/low-Jaccard pairs are the semantically
    * redundant rephrasings embedding-only OR text-only dedup each miss —
    * the whole point of running both modalities. The fixture keys line up
    * (vec_id = doc_id); the candidate pair set already passed the cosine
    * threshold, so the lexical verification joins a bounded pair list,
    * never corpus². */
  def semDedup(
      docs: DataFrame,
      embeddings: DataFrame,
      spark: SparkSession,
      cosThresholdE4: Long = 4000L): DataFrame = {
    val epairs = nearDupPairs(embeddings, spark, cosThresholdE4)
      .select(col("va").as("da"), col("vb").as("db"), col("cosine_e4"))
    val jac = DedupOps.verifyJaccard(
      DedupOps.shinglePostings(docs), Some(epairs.select("da", "db")))
    epairs
      .join(jac, Seq("da", "db"), "left")
      .select(col("da"), col("db"), col("cosine_e4"),
        coalesce(col("jaccard_e4"), lit(0L)).as("jaccard_e4"))
  }

  /** Degenerate-bucket cap for the embedding LSH self-join: a bucket
    * larger than this (e.g. a spike of all-zero or boilerplate-identical
    * embeddings) is dropped before pairing, bounding per-bucket fan-out
    * at ~0.5M pairs. Deliberately far above [[DedupOps.MaxBandBucket]]:
    * with 8 hyperplanes a bucket is a DENSE REGION of the embedding
    * space, not a degenerate signature, and honest buckets at fixture
    * scale reach ~250 members — dropping those would trade real recall
    * for nothing. At 100 TB E[bucket] = N / 2^planes grows linearly
    * with the corpus, so the plane count is a caller knob on
    * [[buckets]]/[[nearDupPairs]] (16-20 planes at billions of
    * vectors; the 16-plane variant is oracled) and this cap stays the
    * degeneracy guard it is. */
  val MaxEmbBucket = 1024L

  /** Every bucket-blocked candidate pair with its cosine — the frame
    * [[nearDupPairs]] thresholds; exposed (unfiltered) so
    * [[graft.operators.DedupOps.blockerCandidateStats]] can price the
    * candidate fan-out against the verified survivors. */
  private[operators] def nearDupScored(
      embeddings: DataFrame,
      spark: SparkSession,
      numPlanes: Int = NumPlanes,
      bucketCap: Long = MaxEmbBucket): DataFrame = {
    val n = normalized(embeddings)
    val b = buckets(n, spark, numPlanes)
    val okBuckets = b.groupBy("bucket").agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= bucketCap).select("bucket")
    // cached: both sides of the bucket self-join read the guarded
    // (vector, bucket) frame; uncached, the vec_id join runs per side
    val nb = graft.Caching.maybeCache(
      n.join(b, "vec_id").join(broadcast(okBuckets), Seq("bucket"), "left_semi"))
    nb.as("a")
      .join(nb.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        cosineE4(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")).as("cosine_e4"))
  }

  /** Embedding near-dup pairs, blocked by LSH bucket (the 100-TB path:
    * pairs only form inside buckets), with oversized buckets dropped —
    * see [[MaxEmbBucket]]. The bucket census is a slim (vec_id, bucket)
    * aggregate, so the guard never shuffles the vectors; the surviving-
    * bucket list is bounded by 2^planes rows and broadcast. */
  def nearDupPairs(
      embeddings: DataFrame,
      spark: SparkSession,
      thresholdE4: Long = 4000L,
      numPlanes: Int = NumPlanes,
      bucketCap: Long = MaxEmbBucket): DataFrame =
    nearDupScored(embeddings, spark, numPlanes, bucketCap)
      .filter(col("cosine_e4") >= thresholdE4)

  /** k-NN graph over the embedding corpus — the primitive SemDeDup-style
    * semantic clustering and SNN/HDBSCAN pipelines consume. Candidate
    * edges come from the same capped LSH blocking as [[nearDupPairs]]
    * (each undirected bucket pair scored once, then oriented both ways),
    * ranked per node by cosine; `k` nearest survive. An APPROXIMATE
    * graph by construction: nodes only see their bucket (raise
    * `numPlanes` resolution or use the multi-probe blocker upstream for
    * more connectivity — the recall harness prices that choice).
    * Isolated nodes (singleton or dropped buckets) are absent, as in
    * every capped blocker here.
    *
    * Shape at 100 TB: pair scoring is bucket-local (the [[nearDupScored]]
    * guarantee — vectors never shuffle corpus-wide); the per-node top-k
    * window shuffles slim (vec_id, nbr_id, cosine) edges on vec_id,
    * bounded by the bucket cap at `bucketCap`·|buckets| edges total. */
  def knnGraph(
      embeddings: DataFrame,
      spark: SparkSession,
      k: Int = 3,
      numPlanes: Int = NumPlanes,
      bucketCap: Long = MaxEmbBucket): DataFrame = {
    val cand = nearDupScored(embeddings, spark, numPlanes, bucketCap)
    val directed = cand
      .select(col("va").as("vec_id"), col("vb").as("nbr_id"), col("cosine_e4"))
      .unionByName(cand
        .select(col("vb").as("vec_id"), col("va").as("nbr_id"), col("cosine_e4")))
    val w = Window.partitionBy("vec_id").orderBy(col("cosine_e4").desc, col("nbr_id"))
    directed.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Multi-probe variant of [[nearDupPairs]] (à la multi-probe LSH): each
    * vector probes its home bucket plus the `numPlanes` single-bit flips
    * — and, at `bitFlips = 2`, the C(planes, 2) double flips — so pairs
    * meet when their buckets differ in at most `bitFlips` plane signs,
    * recovering the near-dups that land just across one (or two)
    * hyperplanes, the dominant loss mode of sign-LSH blocking (measured:
    * the `neardup_recall` rows `embedding_mp`/`embedding_mp2` vs
    * `embedding` — the recall/cost ladder as a table, not a guess).
    *
    * Pair uniqueness is structural, no distinct needed: a pair whose
    * buckets differ in exactly d plane signs meets only through the one
    * probe that flips exactly those d bits. Cost shape at scale: the
    * probe expansion is SLIM (vec_id, probe) rows — 1 + planes
    * (+ planes·(planes-1)/2 at two flips) per vector, 16 bytes each —
    * and vectors join back in by vec_id afterwards, so the fan-out never
    * shuffles the embedding payload. */
  def nearDupPairsMultiProbe(
      embeddings: DataFrame,
      spark: SparkSession,
      thresholdE4: Long = 4000L,
      numPlanes: Int = NumPlanes,
      bitFlips: Int = 1,
      bucketCap: Long = MaxEmbBucket): DataFrame = {
    require(bitFlips == 1 || bitFlips == 2, s"bitFlips 1 or 2, got $bitFlips")
    val n = normalized(embeddings)
    val b = buckets(n, spark, numPlanes)
    val okBuckets = b.groupBy("bucket").agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= bucketCap).select("bucket")
    // cached: read three times (candidate join + both vector fetches)
    val nb = graft.Caching.maybeCache(
      n.join(b, "vec_id").join(broadcast(okBuckets), Seq("bucket"), "left_semi"))
    val singleFlips = (0 until numPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val doubleFlips =
      if (bitFlips < 2) Seq.empty
      else for {
        j <- 0 until numPlanes; kk <- (j + 1) until numPlanes
      } yield col("bucket").bitwiseXOR(lit((1L << j) | (1L << kk)))
    val probeCols = (col("bucket") +: singleFlips) ++ doubleFlips
    val probes = nb.select(col("vec_id").as("pvid"),
      explode(array(probeCols: _*)).as("probe"))
    val cand = probes
      .join(nb.select(col("vec_id"), col("bucket")),
        col("probe") === col("bucket") && col("pvid") < col("vec_id"))
      .select(col("pvid").as("va"), col("vec_id").as("vb"))
    cand
      .join(nb.select(col("vec_id").as("va"), col("v").as("av"), col("nrm").as("an")), "va")
      .join(nb.select(col("vec_id").as("vb"), col("v").as("bv"), col("nrm").as("bn")), "vb")
      .select(col("va"), col("vb"),
        cosineE4(col("av"), col("bv"), col("an"), col("bn")).as("cosine_e4"))
      .filter(col("cosine_e4") >= thresholdE4)
  }
}

object PqOps {

  /** Product quantization over the e6-quantized vectors: M=8 subspaces of
    * 8 dims; the codebook is the per-label centroid table restricted to
    * each subspace (deterministic and integer-exact — same trick as the
    * IVF coarse quantizer). At rest a vector is M small codes instead of
    * 64 floats — the memory-bound ANN scale path (PQ à la Jégou et al.);
    * distances are exact integer arithmetic end-to-end, so ranking has
    * zero FP-ordering exposure and the whole pipeline is oracle-able. */
  val SubDims = 8

  /** Exact integer squared distance from every vector's subvector to
    * every codebook entry: (vec_id, sub, code, dist2_q). Serves both
    * encoding (argmin per (vec, sub)) and, filtered to the query set,
    * the ADC lookup table — one computation, two roles, so the frame is
    * cached (CacheManager converges both references to one entry;
    * lifecycle via graft.Caching like every shared subtree). */
  private[operators] def subDistances(embeddings: DataFrame): DataFrame = {
    val q = EmbeddingStatsOps.quantized(embeddings)
      .select(col("vec_id"), col("dim"), col("xq"))
      .withColumn("sub", expr(s"(dim - 1) div $SubDims"))
    val cb = EmbeddingStatsOps.centroids(embeddings)
      .select(col("label").cast("long").as("code"), col("dim"), col("centroid_q"))
    graft.Caching.maybeCache(
      q.join(broadcast(cb), Seq("dim"))
        .withColumn("d", col("xq") - col("centroid_q"))
        .groupBy("vec_id", "sub", "code")
        .agg(sum(col("d") * col("d")).as("dist2_q")))
  }

  /** PQ encoding: each vector's nearest codebook entry per subspace
    * (ties to the smallest code). */
  def pqCodes(embeddings: DataFrame): DataFrame =
    // argmin via min(struct): same (dist2_q, code) tie order as a rank
    // window, but map-side combinable — no sort exchange
    subDistances(embeddings)
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist2_q"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"))

  /** PQ top-k by asymmetric distance (ADC): queries keep their exact
    * quantized subvectors, candidates are represented only by their M
    * codes, and the approximate distance is the sum over subspaces of
    * the query-to-codeword distances — read from a broadcast LUT of
    * |queries| × M × |codebook| integer entries (tiny: the codebook is
    * label-count sized). The candidate side joins the
    * LUT on (sub, code): M small rows per vector shuffle, never the
    * vectors themselves. */
  def pqTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val dists = subDistances(embeddings)
    val lut = dists.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("sub"), col("code"), col("dist2_q").as("lut_q"))
    val scored = pqCodes(embeddings)
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("lut_q")).as("adist_q"))
    val w = Window.partitionBy("qid").orderBy(col("adist_q"), col("vec_id"))
    // cached ABOVE the rank filter: the k=5 ADC top-k and the rerank
    // shortlist (k=20) differ only here, so both share one
    // materialization of the ranked ADC scores
    graft.Caching.maybeCache(scored.withColumn("rnk", row_number().over(w)))
      .filter(col("rnk") <= k)
  }

  /** Two-stage retrieve-then-rerank, the standard production shape for a
    * lossy index: the PQ ADC scan shortlists `shortlist` candidates per
    * query (codes only — vectors never move, as in [[pqTopK]]), then ONLY
    * those |queries|·shortlist rows are re-scored with the exact cosine
    * and re-ranked to top-k. Buys back most of the recall PQ loses while
    * touching a vanishing fraction of full vectors: at 100 TB the
    * shortlist is a tiny broadcast list semi-fetching its vectors from
    * the corpus scan, so the exact stage costs |q|·shortlist dot
    * products instead of |q|·|corpus|. Both stages are deterministic
    * (integer ADC ties broken by vec_id), so the result is oracle-exact
    * end to end. */
  def pqRerankTopK(
      embeddings: DataFrame,
      nQueries: Int = 10,
      k: Int = 5,
      shortlist: Int = 20): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val short = pqTopK(embeddings, nQueries, shortlist).select("qid", "vec_id")
    val n = AnnOps.normalized(embeddings)
    val queries = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val rescored = n
      .join(broadcast(short), Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        AnnOps.cosineE4(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine_e4"))
    val w = Window.partitionBy("qid").orderBy(col("cosine_e4").desc, col("vec_id"))
    rescored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** IVF-PQ: the billion-scale composition — the coarse quantizer
    * restricts the ADC scan to each query's `nprobe` posting lists, so a
    * query reads |probed lists| code rows instead of |corpus| (the
    * IVFADC layout of Jégou et al.; what FAISS calls IVFx,PQy).
    *
    * Shape at scale: corpus codes live partitioned by their rn=1 coarse
    * center (the posting lists); the query side broadcasts twice — the
    * probe set (|q|·nprobe rows) fans each probed list's code rows to
    * its probing queries, and the ADC LUT (|q|·M·|codebook| integers)
    * scores them — so nothing corpus-sized ever shuffles, and both
    * stages reuse the cached coarse ranking and code frames the plain
    * IVF/PQ operators build. Integer-exact end-to-end like every other
    * ANN variant here, hence oracle-able. */
  def ivfPqTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val corpusList = AnnOps.ivfAssignmentsRanked(embeddings, 1).select("vec_id", "center")
    val queryProbes = AnnOps.ivfAssignmentsRanked(embeddings, nprobe)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("center"))
    val lut = subDistances(embeddings).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("sub"), col("code"), col("dist2_q").as("lut_q"))
    val scored = pqCodes(embeddings)
      .join(corpusList, Seq("vec_id"))
      .join(broadcast(queryProbes), Seq("center"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("lut_q")).as("adist_q"))
    val w = Window.partitionBy("qid").orderBy(col("adist_q"), col("vec_id"))
    // cached above the rank filter: the k=5 top-k and the rerank
    // shortlist (k=20) share one materialization of the probed ADC scan
    graft.Caching.maybeCache(scored.withColumn("rnk", row_number().over(w)))
      .filter(col("rnk") <= k)
  }

  /** (vec_id, label, dim, rq): each vector's e6-quantized RESIDUAL wrt
    * its assigned (rn = 1) coarse center — the quantity true IVFADC
    * encodes. Residuals are far smaller in magnitude than raw vectors
    * (the coarse quantizer absorbs the cluster mean), so the same
    * codebook budget quantizes them with less error — the reason
    * production IVF-PQ encodes residuals, not raw vectors. Cached: the
    * codebook, the encode distances, and the query LUT all re-read it. */
  private[operators] def residuals(embeddings: DataFrame): DataFrame = {
    val q = EmbeddingStatsOps.quantized(embeddings)
    val corpus = AnnOps.ivfAssignmentsRanked(embeddings, 1).select("vec_id", "center")
    val centers = EmbeddingStatsOps.centroids(embeddings)
      .select(col("label").cast("long").as("center"), col("dim"), col("centroid_q"))
    graft.Caching.maybeCache(
      q.join(corpus, "vec_id")
        .join(broadcast(centers), Seq("center", "dim"))
        .select(col("vec_id"), col("label"), col("center"), col("dim"),
          (col("xq") - col("centroid_q")).as("rq")))
  }

  /** The stable md5 train-sample filter shared by every codebook
    * builder's `trainPct` knob: keep rows whose vec_id hashes below p —
    * the same deterministic sampling key [[DedupOps.blockerPairRecall]]
    * and [[DataLayoutOps.sortBounds]] use, reproducible across runs and
    * re-shards. */
  private def trainSample(df: DataFrame, trainPct: Option[Int]): DataFrame = {
    import graft.functions.TextFunctions.stableHash60
    require(trainPct.forall(p => p > 0 && p <= 100), s"trainPct in 1..100, got $trainPct")
    trainPct.fold(df)(p =>
      df.filter(stableHash60(col("vec_id").cast("string")) % 100L < p))
  }

  /** Residual codebook: per-label mean residual per dim — the same
    * deterministic label-as-codeword trick as the raw-vector codebook,
    * applied to residuals. Integer-exact (floor(sum/n + 0.5)).
    * `trainPct`: Some(p) fits the codewords on the stable p% vector
    * sample (production fits on a sample; the full corpus is still
    * ENCODED against the resulting codebook — only the fit shrinks). */
  private[operators] def residualCodebook(
      embeddings: DataFrame, trainPct: Option[Int] = None): DataFrame =
    trainSample(residuals(embeddings), trainPct)
      .groupBy(col("label").cast("long").as("code"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("rq")).as("sum_q"))
      .select(col("code"), col("dim"),
        floor(col("sum_q") / col("n") + 0.5).cast("long").as("rc"))

  /** Residual encode against an arbitrary codebook frame (dim, rc[,
    * sub], code): nearest codeword per subspace by exact integer
    * distance — shared by both rungs of the codebook ladder. `res0` is
    * the residual frame to encode (full corpus on the query path, the
    * train sample inside a sampled Lloyd fit). */
  private def codesForRes(res0: DataFrame, cb: DataFrame, cbKeys: Seq[String]): DataFrame = {
    val res = res0.withColumn("sub", expr(s"(dim - 1) div $SubDims"))
    graft.Caching.maybeCache(
      res.join(broadcast(cb), cbKeys)
        .withColumn("d", col("rq") - col("rc"))
        .groupBy("vec_id", "sub", "code")
        .agg(sum(col("d") * col("d")).as("dist2_q")))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist2_q"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"))
  }

  private def codesFor(embeddings: DataFrame, cb: DataFrame, cbKeys: Seq[String]): DataFrame =
    codesForRes(residuals(embeddings), cb, cbKeys)

  /** Residual PQ encoding: nearest residual codeword per subspace. */
  def residualCodes(embeddings: DataFrame): DataFrame =
    codesFor(embeddings, residualCodebook(embeddings), Seq("dim"))

  /** The probed-ADC chain both residual variants share: corpus posting
    * lists (rn = 1 coarse assignment) + bounded query probe set + the
    * query's per-probed-center residual LUT over `cb`, summed per
    * candidate and ranked top-k. Only the codebook frame and its join
    * keys differ between the ladder rungs — one body means a fix to the
    * self-exclusion, LUT grouping, or rank order can never drift
    * between them. */
  private def probedResidualAdc(
      embeddings: DataFrame, cb: DataFrame, cbKeys: Seq[String],
      nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val corpus = AnnOps.ivfAssignmentsRanked(embeddings, 1).select("vec_id", "center")
    // pinned bounded probe-side frames (the AnnIndexOps.servedTopK
    // treatment): the probe set and the per-probed-center LUT are
    // |q|-bounded, re-referenced under deep subplans, and the chain's
    // cost at fixture scale is plan depth — pinning truncates every
    // downstream plan at a materialized bounded frame
    val probes = graft.Caching.pinForConsistency(
      AnnOps.ivfAssignmentsRanked(embeddings, nprobe)
        .filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("center")))
    val centers = EmbeddingStatsOps.centroids(embeddings)
      .select(col("label").cast("long").as("center"), col("dim"), col("centroid_q"))
    val qdims = EmbeddingStatsOps.quantized(embeddings)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("dim"), col("xq"))
    val lut = graft.Caching.pinForConsistency(qdims
      .join(broadcast(probes), Seq("qid"))
      .join(broadcast(centers), Seq("center", "dim"))
      .withColumn("sub", expr(s"(dim - 1) div $SubDims"))
      .join(broadcast(cb), cbKeys)
      .withColumn("d", col("xq") - col("centroid_q") - col("rc"))
      .groupBy("qid", "center", "sub", "code")
      .agg(sum(col("d") * col("d")).as("lut_q")))
    val scored = codesFor(embeddings, cb, cbKeys)
      .join(corpus, Seq("vec_id"))
      .join(broadcast(probes), Seq("center"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "center", "sub", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("lut_q")).as("adist_q"))
    val w = Window.partitionBy("qid").orderBy(col("adist_q"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** IVFADC proper — IVF-PQ over RESIDUALS: corpus codes quantize
    * (x − coarse_centroid); the query builds a PER-PROBED-CENTER LUT of
    * distances from its own residual wrt THAT center to the residual
    * codewords, so the ADC sum approximates the true query-to-vector
    * distance inside each posting list (Jégou et al.'s IVFADC — what
    * [[ivfPqTopK]] approximates with raw-vector codes).
    *
    * Same scale shape as [[ivfPqTopK]]: codes live partitioned by coarse
    * center, the probe set and LUT broadcast (LUT is |q|·nprobe·M·k
    * integers), nothing corpus-sized shuffles. Integer-exact end-to-end,
    * hence oracle-able; recall measured next to the raw-code variant
    * (`ivfpqres_recall` vs `ivfpq_recall`).
    *
    * Measured caveat (fixture): the deterministic label-MEAN residual
    * codebook is near-degenerate by construction — residuals are
    * centered on their cluster mean, so per-label means sit close to
    * zero and the codes lose discrimination; recall lands slightly
    * BELOW the raw-code variant (1000 vs 1200 e4 at sf0.01). One
    * per-subspace Lloyd iteration repairs the seed —
    * [[ivfPqResidualTrainedTopK]] measures back at raw-code parity
    * (1200 e4, `ivfpqrest_recall`) — and production codebooks train
    * more iterations on a sample; this operator ships the exact IVFADC
    * dataflow those trained codebooks drop into. */
  def ivfPqResidualTopK(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5, nprobe: Int = 2,
      trainPct: Option[Int] = None): DataFrame =
    probedResidualAdc(
      embeddings, residualCodebook(embeddings, trainPct), Seq("dim"), nQueries, k, nprobe)

  /** TRAINED residual subquantizer: one deterministic Lloyd iteration
    * per subspace over the residual subvectors, seeded from the
    * label-mean codebook — [[EmbeddingStatsOps.kmeans2]]'s unrolled
    * trainer applied per sub, which is exactly how production IVFADC
    * codebooks are fit. Returns (sub, code, dim, rc). Integer-exact:
    * integer distances, floor-rounded integer centroids; a code that
    * captures no vectors in a subspace drops out (standard Lloyd edge
    * case, same as kmeans2). */
  private[operators] def trainedResidualCodebook(
      embeddings: DataFrame, trainPct: Option[Int] = None): DataFrame = {
    // the whole FIT — seed codebook, assignment, recompute — runs on the
    // train sample; only encoding (the callers' codesFor against the
    // returned codebook) touches the full corpus
    val resT = trainSample(residuals(embeddings), trainPct)
    val res = graft.Caching.maybeCache(
      resT.withColumn("sub", expr(s"(dim - 1) div $SubDims")))
    val seed = residualCodebook(embeddings, trainPct)
      .withColumn("sub", expr(s"(dim - 1) div $SubDims"))
    // assign = the shared encode against the seed codebook; recompute =
    // per-(sub, code) mean of the residuals each codeword captured
    val assigned = codesForRes(resT, seed, Seq("sub", "dim"))
    graft.Caching.maybeCache(
      res.join(assigned, Seq("vec_id", "sub"))
        .groupBy("sub", "code", "dim")
        .agg(count(lit(1)).as("n"), sum(col("rq")).as("sum_q"))
        .select(col("sub"), col("code"), col("dim"),
          floor(col("sum_q") / col("n") + 0.5).cast("long").as("rc")))
  }

  /** Residual IVF-PQ with the TRAINED codebook — the last rung of the
    * measured codebook ladder (sf0.01 recall@5: `ivfpq_recall` raw
    * codes 1200 → `ivfpqres_recall` label-mean residuals 1000 →
    * `ivfpqrest_recall` trained residuals 1200 e4 — one Lloyd
    * iteration repairs the degenerate seed back to parity; production
    * trains more, on a sample): same probed-ADC dataflow as
    * [[ivfPqResidualTopK]], codebook fit by per-subspace Lloyd instead
    * of taken from label means.
    *
    * `trainPct` = Some(p): the ENTIRE codebook fit (label-mean seed +
    * Lloyd iteration) runs on the stable p% md5 vector sample; the full
    * corpus is still encoded and searched. Measured on the fixture
    * ladder (sf0.01 recall@5): label-mean residuals 1000 → full-corpus
    * trained 1200 → **50%-sample trained 1800 e4**
    * (`ivfpqres_recall` / `ivfpqrest_recall` / `ivfpqrests_recall`).
    * The sampled fit measuring ABOVE the full fit is the label-mean
    * seed's documented near-degeneracy at work: per-label residual
    * means sit close to zero, and fitting on the half-sample perturbs
    * that symmetric seed into more discriminative codewords than one
    * full-corpus Lloyd step does. Production draws the same conclusion
    * for the cheaper reason: fit on a small sample (at 100 TB, ~0.1%)
    * with more Lloyd iterations — the training aggregates stop being
    * corpus-scans at all, and recall is set by iteration count, not
    * sample size. */
  def ivfPqResidualTrainedTopK(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5, nprobe: Int = 2,
      trainPct: Option[Int] = None): DataFrame =
    probedResidualAdc(
      embeddings, trainedResidualCodebook(embeddings, trainPct), Seq("sub", "dim"),
      nQueries, k, nprobe)

  /** IVF-PQ with exact re-rank — the complete production retrieval
    * stack (coarse probe → ADC shortlist → exact-cosine re-rank of
    * |q|·shortlist rows). Composes [[ivfPqTopK]]'s probed scan with the
    * same broadcast-fetched rescore [[pqRerankTopK]] uses; recall is
    * bounded by what the probed posting lists contain, but the ordering
    * within the shortlist becomes exact. */
  def ivfPqRerankTopK(
      embeddings: DataFrame,
      nQueries: Int = 10,
      k: Int = 5,
      nprobe: Int = 2,
      shortlist: Int = 20): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val short = ivfPqTopK(embeddings, nQueries, shortlist, nprobe).select("qid", "vec_id")
    val n = AnnOps.normalized(embeddings)
    val queries = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val rescored = n
      .join(broadcast(short), Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        AnnOps.cosineE4(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine_e4"))
    val w = Window.partitionBy("qid").orderBy(col("cosine_e4").desc, col("vec_id"))
    rescored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }
}

object AnnPack extends QueryPack {
  private def e(s: SparkSession, dir: String): DataFrame = Tables.embeddings(s, dir)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_brute_topk" -> ((s, dir) => AnnOps.bruteTopK(e(s, dir))),
    "ann_lsh_topk" -> ((s, dir) => AnnOps.lshTopK(e(s, dir), s)),
    "ann_ivf_topk" -> ((s, dir) => AnnOps.ivfTopK(e(s, dir))),
    "ann_ivf_probe2" -> ((s, dir) => AnnOps.ivfTopK(e(s, dir), nprobe = 2)),
    "ann_sq8" -> ((s, dir) => AnnOps.sq8TopK(e(s, dir))),
    "ann_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s)),
    "ivf_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s, index = "ivf")),
    "sq8_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s, index = "sq8")),
    "pq_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s, index = "pq")),
    "sem_dedup" -> ((s, dir) => AnnOps.semDedup(Tables.documents(s, dir), e(s, dir), s)),
    "emb_near_dups" -> ((s, dir) => AnnOps.nearDupPairs(e(s, dir), s)),
    "emb_near_dups_16p" -> ((s, dir) => AnnOps.nearDupPairs(e(s, dir), s, numPlanes = 16)),
    "emb_near_dups_mp" -> ((s, dir) => AnnOps.nearDupPairsMultiProbe(e(s, dir), s)),
    "pq_knn" -> ((s, dir) => PqOps.pqTopK(e(s, dir))),
    "pq_rerank" -> ((s, dir) => PqOps.pqRerankTopK(e(s, dir))),
    "rerank_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s, index = "pq_rerank")),
    "ivfpq_knn" -> ((s, dir) => PqOps.ivfPqTopK(e(s, dir))),
    "ivfpq_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s, index = "ivfpq")),
    "ivfpq_rerank" -> ((s, dir) => PqOps.ivfPqRerankTopK(e(s, dir))),
    "ivfpq_res" -> ((s, dir) => PqOps.ivfPqResidualTopK(e(s, dir))),
    "ivfpqres_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s, index = "ivfpq_res")),
    "ivfpq_res_t" -> ((s, dir) => PqOps.ivfPqResidualTrainedTopK(e(s, dir))),
    "ivfpqrest_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s, index = "ivfpq_res_t")),
    "ivfpq_res_ts" -> ((s, dir) =>
      PqOps.ivfPqResidualTrainedTopK(e(s, dir), trainPct = Some(50))),
    "ivfpqrests_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s, index = "ivfpq_res_ts")),
    "ivf_assign" -> ((s, dir) => AnnOps.ivfAssignIncremental(e(s, dir))),
    // write-then-serve: the same answer as ivfpq_res_t, produced from the
    // STORED index tables (equality with the fresh chain IS the claim)
    "ann_served" -> ((s, dir) => IndexFixtures.served(IndexFixtures.Ann, s, dir)),
    "ann_serve_only" -> ((s, dir) => IndexFixtures.serveOnly(IndexFixtures.Ann, s, dir)),
    // index maintenance faces: append-then-serve (quantizer fixed at the
    // initial fit), tombstone-masked serve, and the drift health census
    "ann_ingest" -> ((s, dir) => IndexFixtures.ingest(IndexFixtures.Ann, s, dir)),
    "ann_append_only" -> ((s, dir) => IndexFixtures.appendOnly(IndexFixtures.Ann, s, dir)),
    "ann_serve_stream" -> ((s, dir) => IndexFixtures.annServeStream(s, dir)),
    "ann_deleted" -> ((s, dir) => IndexFixtures.deleted(IndexFixtures.Ann, s, dir)),
    "ann_drift" -> ((s, dir) => IndexFixtures.annDrift(s, dir)),
    "ann_filtered" -> ((s, dir) => AnnOps.filteredTopK(e(s, dir))),
    "hard_negs" -> ((s, dir) => AnnOps.hardNegatives(e(s, dir))),
    "ann_trunc" -> ((s, dir) => AnnOps.truncTopK(e(s, dir))),
    "trunc_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s, index = "trunc16")),
    "trunc8_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s, index = "trunc8")),
    "ann_trunc_rr" -> ((s, dir) => AnnOps.truncRerankTopK(e(s, dir))),
    "truncr_recall" -> ((s, dir) => AnnOps.annRecall(e(s, dir), s, index = "trunc_rerank")),
    "knn_graph" -> ((s, dir) => AnnOps.knnGraph(e(s, dir), s))
  )

  private[operators] val normSql =
    """n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b)) AS nrm
      |  FROM embeddings
      |)""".stripMargin

  /** Bucket CTE over `planes` hyperplanes — mirrors
    * [[AnnOps.buckets]]' numPlanes knob. */
  private[operators] def bucketSqlFor(planes: Int): String =
    s"""bk AS (
       |  SELECT vec_id,
       |         CAST(SUM(CASE WHEN list_reduce(list_transform(range(1, 65),
       |                        d -> v[d] * CAST(((j.j * 67 + d * 31) % 19) - 9 AS DOUBLE)),
       |                        (a, b) -> a + b) > 0
       |                  THEN CAST(POW(2, j.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM n, range(0, $planes) j(j)
       |  GROUP BY vec_id
       |)""".stripMargin

  private[operators] val bucketSql = bucketSqlFor(8)

  private[operators] val cosSql =
    "FLOOR(list_reduce(list_transform(range(1, 65), d -> qa.v[d] * ca.v[d]), (x, y) -> x + y) / (qa.nrm * ca.nrm) * 10000 + 0.5)"

  /** Exact brute-force top-5 per query as CTEs `bscored`/`brute` — the
    * reference side of every recall oracle. */
  private val bruteCtes =
    s"""bscored AS (
       |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id,
       |         CAST($cosSql AS BIGINT) AS cosine_e4
       |  FROM n qa JOIN n ca ON ca.vec_id <> qa.vec_id
       |  WHERE qa.vec_id < 10
       |),
       |brute AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
       |    FROM bscored
       |  ) WHERE rnk <= 5
       |)""".stripMargin

  /** Truncated-prefix twin of `normSql`: vectors sliced to their first
    * `dims` elements, named `cte`. */
  private def truncNormSql(dims: Int, cte: String): String =
    s"""$cte AS (
       |  SELECT vec_id, (embedding::DOUBLE[])[1:$dims] AS v,
       |         sqrt(list_reduce(list_transform((embedding::DOUBLE[])[1:$dims], x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM embeddings
       |)""".stripMargin

  private def truncCosSql(dims: Int): String =
    s"FLOOR(list_reduce(list_transform(range(1, ${dims + 1}), d -> qa.v[d] * ca.v[d]), (x, y) -> x + y) / (qa.nrm * ca.nrm) * 10000 + 0.5)"

  /** Truncated brute top-`cap` per query as CTE `name` (over `tn`). */
  private def truncAtopCtes(dims: Int, cap: Int = 5, name: String = "atop"): String =
    s"""${truncNormSql(dims, "tn")},
       |tscored AS (
       |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id,
       |         CAST(${truncCosSql(dims)} AS BIGINT) AS cosine_e4
       |  FROM tn qa JOIN tn ca ON ca.vec_id <> qa.vec_id
       |  WHERE qa.vec_id < 10
       |),
       |$name AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
       |    FROM tscored
       |  ) WHERE rnk <= $cap
       |)""".stripMargin

  /** Full-width rescore of shortlist CTE `short` → CTE `rr` ranked to
    * top-5 (needs `n` in scope). */
  private def rerankCtes(short: String): String =
    s"""rescored AS (
       |  SELECT s.qid, s.vec_id,
       |         CAST($cosSql AS BIGINT) AS cosine_e4
       |  FROM $short s
       |  JOIN n qa ON qa.vec_id = s.qid
       |  JOIN n ca ON ca.vec_id = s.vec_id
       |),
       |rr AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
       |  FROM rescored
       |)""".stripMargin

  /** recall@5 of CTE `atop(qid, vec_id)` against `brute` — 2000 = 1e4/k. */
  private def recallTail(atop: String): String =
    s"""common AS (
       |  SELECT b.qid, COUNT(*) AS n_common
       |  FROM brute b JOIN $atop l ON b.qid = l.qid AND b.vec_id = l.vec_id
       |  GROUP BY b.qid
       |)
       |SELECT b.qid, CAST(COUNT(*) AS BIGINT) AS n_brute,
       |       CAST(COALESCE(ANY_VALUE(cm.n_common), 0) AS BIGINT) AS n_common,
       |       CAST(COALESCE(ANY_VALUE(cm.n_common), 0) * 2000 AS BIGINT) AS recall_e4
       |FROM brute b LEFT JOIN common cm ON b.qid = cm.qid
       |GROUP BY b.qid""".stripMargin

  /** PQ rerank CTE chain through `rescored(qid, vec_id, cosine_e4)`:
    * codebook → codes → ADC scores → top-20 shortlist → exact cosine.
    * Shared by the `pq_rerank` result oracle and the `rerank_recall`
    * self-evaluation. Also defines `n` (normSql), which bruteCtes
    * consumes downstream. */
  private val pqRerankCtes =
    s"""${EmbeddingStatsPack.centroidSql},
       |cq AS (SELECT CAST(label AS BIGINT) AS code, dim,
       |              CAST(FLOOR(CAST(sum_q AS DOUBLE) / n + 0.5) AS BIGINT) AS centroid_q FROM c),
       |qs AS (SELECT vec_id, (dim - 1) // 8 AS sub, dim, xq FROM q),
       |cdist AS (
       |  SELECT qs.vec_id, qs.sub, cq.code,
       |         CAST(SUM((qs.xq - cq.centroid_q) * (qs.xq - cq.centroid_q)) AS BIGINT) AS dist2_q
       |  FROM qs JOIN cq ON qs.dim = cq.dim
       |  GROUP BY qs.vec_id, qs.sub, cq.code
       |),
       |codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2_q, code) AS rn
       |    FROM cdist
       |  ) WHERE rn = 1
       |),
       |ascored AS (
       |  SELECT l.vec_id AS qid, c.vec_id, CAST(SUM(l.dist2_q) AS BIGINT) AS adist_q
       |  FROM codes c JOIN cdist l ON c.sub = l.sub AND c.code = l.code
       |  WHERE l.vec_id < 10 AND c.vec_id <> l.vec_id
       |  GROUP BY l.vec_id, c.vec_id
       |),
       |short AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
       |    FROM ascored
       |  ) WHERE rnk <= 20
       |),
       |$normSql,
       |rescored AS (
       |  SELECT s.qid, s.vec_id,
       |         CAST($cosSql AS BIGINT) AS cosine_e4
       |  FROM short s JOIN n ca ON ca.vec_id = s.vec_id JOIN n qa ON qa.vec_id = s.qid
       |)""".stripMargin

  /** IVF-PQ CTE chain through `ipscored(qid, vec_id, adist_q)`: the
    * codebook/codes/LUT CTEs are the PQ chain; the coarse quantizer
    * falls out for free because the full 64-dim distance to a label
    * centroid is exactly the per-subspace distances summed
    * (`codist` = SUM over subs of `cdist`). Probe-2, 10 queries —
    * mirrors [[PqOps.ivfPqTopK]] defaults. */
  private val ivfPqCtes =
    s"""${EmbeddingStatsPack.centroidSql},
       |cq AS (SELECT CAST(label AS BIGINT) AS code, dim,
       |              CAST(FLOOR(CAST(sum_q AS DOUBLE) / n + 0.5) AS BIGINT) AS centroid_q FROM c),
       |qs AS (SELECT vec_id, (dim - 1) // 8 AS sub, dim, xq FROM q),
       |cdist AS (
       |  SELECT qs.vec_id, qs.sub, cq.code,
       |         CAST(SUM((qs.xq - cq.centroid_q) * (qs.xq - cq.centroid_q)) AS BIGINT) AS dist2_q
       |  FROM qs JOIN cq ON qs.dim = cq.dim
       |  GROUP BY qs.vec_id, qs.sub, cq.code
       |),
       |codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2_q, code) AS rn
       |    FROM cdist
       |  ) WHERE rn = 1
       |),
       |codist AS (
       |  SELECT vec_id, code AS center, CAST(SUM(dist2_q) AS BIGINT) AS cd2
       |  FROM cdist GROUP BY vec_id, code
       |),
       |cranked AS (
       |  SELECT vec_id, center,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd2, center) AS rn
       |  FROM codist
       |),
       |corpus AS (SELECT vec_id, center FROM cranked WHERE rn = 1),
       |probes AS (SELECT vec_id AS qid, center FROM cranked WHERE rn <= 2 AND vec_id < 10),
       |ipscored AS (
       |  SELECT p.qid, c2.vec_id, CAST(SUM(l.dist2_q) AS BIGINT) AS adist_q
       |  FROM codes c2
       |  JOIN corpus co ON co.vec_id = c2.vec_id
       |  JOIN probes p ON p.center = co.center AND c2.vec_id <> p.qid
       |  JOIN cdist l ON l.vec_id = p.qid AND l.sub = c2.sub AND l.code = c2.code
       |  GROUP BY p.qid, c2.vec_id
       |)""".stripMargin

  /** Residual IVF-PQ (IVFADC proper) CTE chain through
    * `iprscored(qid, vec_id, adist_q)`: coarse assignment → per-vector
    * residuals → per-label residual codebook → residual codes → the
    * query's per-probed-center residual LUT → probed ADC sum. Probe-2,
    * 10 queries — mirrors [[PqOps.ivfPqResidualTopK]] defaults.
    * `trainPred` restricts the codebook FIT (rtrain) the way the Scala
    * side's trainPct md5 sample does; encoding stays full-corpus. */
  // `centroidPred` restricts the COARSE-CENTROID fit (the stored-index
  // half-fit ingest shape: quantizer trained on the initial corpus, the
  // full corpus still quantized/encoded); default TRUE = fit on all.
  private def ivfPqResCtesP(trainPred: String, centroidPred: String = "TRUE"): String =
    s"""${EmbeddingStatsPack.quantSql},
       |c AS (
       |  SELECT label, dim, COUNT(*) AS n, CAST(SUM(xq) AS BIGINT) AS sum_q
       |  FROM q WHERE $centroidPred GROUP BY label, dim
       |),
       |cq AS (SELECT CAST(label AS BIGINT) AS center, dim,
       |              CAST(FLOOR(CAST(sum_q AS DOUBLE) / n + 0.5) AS BIGINT) AS centroid_q FROM c),
       |cdistf AS (
       |  SELECT q.vec_id, cq.center,
       |         CAST(SUM((q.xq - cq.centroid_q) * (q.xq - cq.centroid_q)) AS BIGINT) AS dist2_q
       |  FROM q JOIN cq ON q.dim = cq.dim
       |  GROUP BY q.vec_id, cq.center
       |),
       |crankedf AS (
       |  SELECT vec_id, center,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2_q, center) AS rn
       |  FROM cdistf
       |),
       |corpusf AS (SELECT vec_id, center FROM crankedf WHERE rn = 1),
       |probesf AS (SELECT vec_id AS qid, center FROM crankedf WHERE rn <= 2 AND vec_id < 10),
       |res AS (
       |  SELECT q.vec_id, q.label, q.dim, q.xq - cq.centroid_q AS rq
       |  FROM q
       |  JOIN corpusf co ON q.vec_id = co.vec_id
       |  JOIN cq ON cq.center = co.center AND cq.dim = q.dim
       |),
       |rtrain AS (SELECT * FROM res WHERE $trainPred),
       |rcb AS (
       |  SELECT CAST(label AS BIGINT) AS code, dim,
       |         CAST(FLOOR(CAST(SUM(rq) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS rc
       |  FROM rtrain GROUP BY label, dim
       |),
       |rdist AS (
       |  SELECT r.vec_id, (r.dim - 1) // 8 AS sub, b.code,
       |         CAST(SUM((r.rq - b.rc) * (r.rq - b.rc)) AS BIGINT) AS dist2_q
       |  FROM res r JOIN rcb b ON r.dim = b.dim
       |  GROUP BY r.vec_id, (r.dim - 1) // 8, b.code
       |),
       |rcodes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2_q, code) AS rn
       |    FROM rdist
       |  ) WHERE rn = 1
       |),
       |rlut AS (
       |  SELECT p.qid, p.center, (q.dim - 1) // 8 AS sub, b.code,
       |         CAST(SUM((q.xq - cq.centroid_q - b.rc) * (q.xq - cq.centroid_q - b.rc)) AS BIGINT) AS lut_q
       |  FROM q
       |  JOIN probesf p ON q.vec_id = p.qid
       |  JOIN cq ON cq.center = p.center AND cq.dim = q.dim
       |  JOIN rcb b ON b.dim = q.dim
       |  GROUP BY p.qid, p.center, (q.dim - 1) // 8, b.code
       |),
       |iprscored AS (
       |  SELECT p.qid, rc2.vec_id, CAST(SUM(l.lut_q) AS BIGINT) AS adist_q
       |  FROM rcodes rc2
       |  JOIN corpusf co ON co.vec_id = rc2.vec_id
       |  JOIN probesf p ON p.center = co.center AND rc2.vec_id <> p.qid
       |  JOIN rlut l ON l.qid = p.qid AND l.center = co.center
       |             AND l.sub = rc2.sub AND l.code = rc2.code
       |  GROUP BY p.qid, rc2.vec_id
       |)""".stripMargin

  private val ivfPqResCtes = ivfPqResCtesP("TRUE")

  /** Trained-residual IVF-PQ CTE chain through `trscored(qid, vec_id,
    * adist_q)`: the [[ivfPqResCtesP]] coarse/residual/seed chain plus one
    * per-subspace Lloyd iteration (assign to seed codewords → recompute
    * means → re-encode) — mirrors [[PqOps.ivfPqResidualTrainedTopK]].
    * With a non-TRUE `trainPred` the Lloyd fit (td1/ta1/tcb) runs on the
    * sampled residuals only, like the seed; encoding (td2) stays full. */
  private def ivfPqResTrainedCtesP(trainPred: String, centroidPred: String = "TRUE"): String =
    s"""${ivfPqResCtesP(trainPred, centroidPred)},
       |rsub AS (SELECT vec_id, label, dim, rq, (dim - 1) // 8 AS sub FROM res),
       |rtsub AS (SELECT vec_id, label, dim, rq, (dim - 1) // 8 AS sub FROM rtrain),
       |rcbs AS (SELECT code, dim, rc, (dim - 1) // 8 AS sub FROM rcb),
       |td1 AS (
       |  SELECT r.vec_id, r.sub, b.code,
       |         CAST(SUM((r.rq - b.rc) * (r.rq - b.rc)) AS BIGINT) AS dist2_q
       |  FROM rtsub r JOIN rcbs b ON r.sub = b.sub AND r.dim = b.dim
       |  GROUP BY r.vec_id, r.sub, b.code
       |),
       |ta1 AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2_q, code) AS rn
       |    FROM td1
       |  ) WHERE rn = 1
       |),
       |tcb AS (
       |  SELECT a.sub, a.code, r.dim,
       |         CAST(FLOOR(CAST(SUM(r.rq) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS rc
       |  FROM rtsub r JOIN ta1 a ON r.vec_id = a.vec_id AND r.sub = a.sub
       |  GROUP BY a.sub, a.code, r.dim
       |),
       |td2 AS (
       |  SELECT r.vec_id, r.sub, b.code,
       |         CAST(SUM((r.rq - b.rc) * (r.rq - b.rc)) AS BIGINT) AS dist2_q
       |  FROM rsub r JOIN tcb b ON r.sub = b.sub AND r.dim = b.dim
       |  GROUP BY r.vec_id, r.sub, b.code
       |),
       |tcodes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2_q, code) AS rn
       |    FROM td2
       |  ) WHERE rn = 1
       |),
       |tlut AS (
       |  SELECT p.qid, p.center, b.sub, b.code,
       |         CAST(SUM((q.xq - cq.centroid_q - b.rc) * (q.xq - cq.centroid_q - b.rc)) AS BIGINT) AS lut_q
       |  FROM q
       |  JOIN probesf p ON q.vec_id = p.qid
       |  JOIN cq ON cq.center = p.center AND cq.dim = q.dim
       |  JOIN tcb b ON b.dim = q.dim
       |  GROUP BY p.qid, p.center, b.sub, b.code
       |),
       |trscored AS (
       |  SELECT p.qid, tc.vec_id, CAST(SUM(l.lut_q) AS BIGINT) AS adist_q
       |  FROM tcodes tc
       |  JOIN corpusf co ON co.vec_id = tc.vec_id
       |  JOIN probesf p ON p.center = co.center AND tc.vec_id <> p.qid
       |  JOIN tlut l ON l.qid = p.qid AND l.center = co.center
       |             AND l.sub = tc.sub AND l.code = tc.code
       |  GROUP BY p.qid, tc.vec_id
       |)""".stripMargin

  private val ivfPqResTrainedCtes = ivfPqResTrainedCtesP("TRUE")

  /** IVF CTE chain through `ranked` (rnk = per-query cosine rank):
    * corpus side uses rn=1 assignments; query side probes the `nprobe`
    * nearest centers. nprobe=1 degenerates to the plain IVF plan. */
  private def ivfCtes(nprobe: Int): String =
    s"""$normSql,
       |q AS (
       |  SELECT vec_id, label, d.i AS dim,
       |         CAST(FLOOR(CAST(embedding[d.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xq
       |  FROM embeddings, range(1, 65) d(i)
       |),
       |c AS (
       |  SELECT label AS center, dim,
       |         CAST(FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS centroid_q
       |  FROM q GROUP BY label, dim
       |),
       |dist AS (
       |  SELECT q.vec_id, c.center,
       |         CAST(SUM((q.xq - c.centroid_q) * (q.xq - c.centroid_q)) AS BIGINT) AS dist2_q
       |  FROM q JOIN c ON q.dim = c.dim
       |  GROUP BY q.vec_id, c.center
       |),
       |cranked AS (
       |  SELECT vec_id, center,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2_q, center) AS rn
       |  FROM dist
       |),
       |na AS (SELECT n.vec_id, n.v, n.nrm, asg.center
       |       FROM n JOIN cranked asg ON n.vec_id = asg.vec_id AND asg.rn = 1),
       |nq AS (SELECT n.vec_id, n.v, n.nrm, p.center
       |       FROM n JOIN cranked p ON n.vec_id = p.vec_id AND p.rn <= $nprobe
       |       WHERE n.vec_id < 10),
       |scored AS (
       |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id,
       |         CAST($cosSql AS BIGINT) AS cosine_e4
       |  FROM nq qa JOIN na ca ON qa.center = ca.center AND ca.vec_id <> qa.vec_id
       |),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
       |  FROM scored
       |)""".stripMargin

  private def ivfSql(nprobe: Int): String =
    s"""WITH ${ivfCtes(nprobe)}
       |SELECT qid, vec_id, cosine_e4, rnk FROM ranked WHERE rnk <= 5""".stripMargin

  override def oracles: Map[String, String] = Map(
    "ann_filtered" ->
      s"""WITH $normSql,
         |scored AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id,
         |         CAST($cosSql AS BIGINT) AS cosine_e4
         |  FROM n qa
         |  JOIN n ca ON ca.vec_id <> qa.vec_id
         |  JOIN embeddings e ON e.vec_id = ca.vec_id AND e.label = 3
         |  WHERE qa.vec_id < 10
         |),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
         |  FROM scored
         |)
         |SELECT qid, vec_id, cosine_e4, rnk FROM ranked WHERE rnk <= 5""".stripMargin,
    // hard negatives: the label inequality moves into the join condition
    // (per-anchor), everything else is the filtered-scan shape
    "hard_negs" ->
      s"""WITH $normSql,
         |nl AS (
         |  SELECT n.vec_id, n.v, n.nrm, e.label
         |  FROM n JOIN embeddings e ON n.vec_id = e.vec_id
         |),
         |hscored AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id, ca.label,
         |         CAST($cosSql AS BIGINT) AS cosine_e4
         |  FROM nl qa
         |  JOIN nl ca ON ca.vec_id <> qa.vec_id AND ca.label <> qa.label
         |  WHERE qa.vec_id < 10
         |)
         |SELECT qid, vec_id, label, cosine_e4, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
         |  FROM hscored
         |) WHERE rnk <= 5""".stripMargin,
    "ivf_assign" ->
      """WITH wm AS (SELECT (MAX(vec_id) * 4) // 5 AS w FROM embeddings),
        |qo AS (
        |  SELECT vec_id, label, d.i AS dim,
        |         CAST(FLOOR(CAST(embedding[d.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xq
        |  FROM embeddings, range(1, 65) d(i)
        |  WHERE vec_id < (SELECT w FROM wm)
        |),
        |c AS (SELECT label, dim, COUNT(*) AS n, CAST(SUM(xq) AS BIGINT) AS sum_q
        |      FROM qo GROUP BY label, dim),
        |cq AS (SELECT CAST(label AS BIGINT) AS center, dim,
        |              CAST(FLOOR(CAST(sum_q AS DOUBLE) / n + 0.5) AS BIGINT) AS centroid_q
        |       FROM c),
        |nb AS (
        |  SELECT vec_id, d.i AS dim,
        |         CAST(FLOOR(CAST(embedding[d.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xq
        |  FROM embeddings, range(1, 65) d(i)
        |  WHERE vec_id >= (SELECT w FROM wm)
        |),
        |d AS (
        |  SELECT nb.vec_id, cq.center,
        |         CAST(SUM((nb.xq - cq.centroid_q) * (nb.xq - cq.centroid_q)) AS BIGINT) AS dist2_q
        |  FROM nb JOIN cq ON nb.dim = cq.dim
        |  GROUP BY nb.vec_id, cq.center
        |),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2_q, center) AS rn FROM d
        |)
        |SELECT vec_id, center, dist2_q FROM r WHERE rn = 1""".stripMargin,
    "ann_brute_topk" ->
      s"""WITH $normSql,
         |scored AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id,
         |         CAST($cosSql AS BIGINT) AS cosine_e4
         |  FROM n qa JOIN n ca ON ca.vec_id <> qa.vec_id
         |  WHERE qa.vec_id < 10
         |),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
         |  FROM scored
         |)
         |SELECT qid, vec_id, cosine_e4, rnk FROM ranked WHERE rnk <= 5""".stripMargin,
    // truncated-prefix brute top-k: the same ranking chain over the
    // 16-dim Matryoshka slice
    "ann_trunc" ->
      s"""WITH ${truncNormSql(16, "n")},
         |scored AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id,
         |         CAST(${truncCosSql(16)} AS BIGINT) AS cosine_e4
         |  FROM n qa JOIN n ca ON ca.vec_id <> qa.vec_id
         |  WHERE qa.vec_id < 10
         |),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
         |  FROM scored
         |)
         |SELECT qid, vec_id, cosine_e4, rnk FROM ranked WHERE rnk <= 5""".stripMargin,
    "trunc_recall" ->
      s"""WITH $normSql,
         |$bruteCtes,
         |${truncAtopCtes(16)},
         |${recallTail("atop")}""".stripMargin,
    "trunc8_recall" ->
      s"""WITH $normSql,
         |$bruteCtes,
         |${truncAtopCtes(8)},
         |${recallTail("atop")}""".stripMargin,
    // prefix shortlist (top-50 @16 dims) rescored at full width
    "ann_trunc_rr" ->
      s"""WITH $normSql,
         |${truncAtopCtes(16, cap = 50, name = "tshort")},
         |${rerankCtes("tshort")}
         |SELECT qid, vec_id, cosine_e4, rnk FROM rr WHERE rnk <= 5""".stripMargin,
    "truncr_recall" ->
      s"""WITH $normSql,
         |$bruteCtes,
         |${truncAtopCtes(16, cap = 50, name = "tshort")},
         |${rerankCtes("tshort")},
         |atop AS (SELECT qid, vec_id FROM rr WHERE rnk <= 5),
         |${recallTail("atop")}""".stripMargin,
    "ann_lsh_topk" ->
      s"""WITH $normSql, $bucketSql,
         |nb AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk ON n.vec_id = bk.vec_id),
         |scored AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id,
         |         CAST($cosSql AS BIGINT) AS cosine_e4
         |  FROM nb qa JOIN nb ca ON qa.bucket = ca.bucket AND ca.vec_id <> qa.vec_id
         |  WHERE qa.vec_id < 10
         |),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
         |  FROM scored
         |)
         |SELECT qid, vec_id, cosine_e4, rnk FROM ranked WHERE rnk <= 5""".stripMargin,
    "ann_ivf_topk" -> ivfSql(1),
    "ann_ivf_probe2" -> ivfSql(2),
    "ann_sq8" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS s,
        |         CASE WHEN list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) = 0
        |              THEN list_transform(embedding::DOUBLE[], x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(embedding::DOUBLE[],
        |                     x -> CAST(FLOOR(x / list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) * 127 + 0.5) AS BIGINT))
        |         END AS q
        |  FROM embeddings
        |),
        |qn AS (
        |  SELECT vec_id, q,
        |         sqrt(CAST(list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS DOUBLE)) AS qn
        |  FROM q
        |),
        |scored AS (
        |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id,
        |         CAST(FLOOR(CAST(list_reduce(list_transform(range(1, 65), d -> qa.q[d] * ca.q[d]), (x, y) -> x + y) AS DOUBLE)
        |                    / (qa.qn * ca.qn) * 10000 + 0.5) AS BIGINT) AS cos8_e4
        |  FROM qn qa JOIN qn ca ON ca.vec_id <> qa.vec_id
        |  WHERE qa.vec_id < 10
        |),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos8_e4 DESC, vec_id) AS rnk
        |  FROM scored
        |)
        |SELECT qid, vec_id, cos8_e4, rnk FROM ranked WHERE rnk <= 5""".stripMargin,
    "ann_recall" ->
      s"""WITH $normSql, $bucketSql,
         |nb AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk ON n.vec_id = bk.vec_id),
         |bscored AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id,
         |         CAST($cosSql AS BIGINT) AS cosine_e4
         |  FROM n qa JOIN n ca ON ca.vec_id <> qa.vec_id
         |  WHERE qa.vec_id < 10
         |),
         |brute AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
         |    FROM bscored
         |  ) WHERE rnk <= 5
         |),
         |lscored AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id,
         |         CAST($cosSql AS BIGINT) AS cosine_e4
         |  FROM nb qa JOIN nb ca ON qa.bucket = ca.bucket AND ca.vec_id <> qa.vec_id
         |  WHERE qa.vec_id < 10
         |),
         |lsh AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
         |    FROM lscored
         |  ) WHERE rnk <= 5
         |),
         |common AS (
         |  SELECT b.qid, COUNT(*) AS n_common
         |  FROM brute b JOIN lsh l ON b.qid = l.qid AND b.vec_id = l.vec_id
         |  GROUP BY b.qid
         |)
         |SELECT b.qid, CAST(COUNT(*) AS BIGINT) AS n_brute,
         |       CAST(COALESCE(ANY_VALUE(c.n_common), 0) AS BIGINT) AS n_common,
         |       CAST(COALESCE(ANY_VALUE(c.n_common), 0) * 2000 AS BIGINT) AS recall_e4
         |FROM brute b LEFT JOIN common c ON b.qid = c.qid
         |GROUP BY b.qid""".stripMargin,
    "ivf_recall" ->
      s"""WITH ${ivfCtes(1)},
         |atop AS (SELECT qid, vec_id FROM ranked WHERE rnk <= 5),
         |$bruteCtes,
         |${recallTail("atop")}""".stripMargin,
    "sq8_recall" ->
      s"""WITH $normSql,
         |$bruteCtes,
         |sq AS (
         |  SELECT vec_id,
         |         CASE WHEN list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) = 0
         |              THEN list_transform(embedding::DOUBLE[], x -> CAST(0 AS BIGINT))
         |              ELSE list_transform(embedding::DOUBLE[],
         |                     x -> CAST(FLOOR(x / list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) * 127 + 0.5) AS BIGINT))
         |         END AS q
         |  FROM embeddings
         |),
         |sqn AS (
         |  SELECT vec_id, q,
         |         sqrt(CAST(list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS DOUBLE)) AS qn
         |  FROM sq
         |),
         |sscored AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS vec_id,
         |         CAST(FLOOR(CAST(list_reduce(list_transform(range(1, 65), d -> qa.q[d] * ca.q[d]), (x, y) -> x + y) AS DOUBLE)
         |                    / (qa.qn * ca.qn) * 10000 + 0.5) AS BIGINT) AS cos8_e4
         |  FROM sqn qa JOIN sqn ca ON ca.vec_id <> qa.vec_id
         |  WHERE qa.vec_id < 10
         |),
         |atop AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos8_e4 DESC, vec_id) AS rnk
         |    FROM sscored
         |  ) WHERE rnk <= 5
         |),
         |${recallTail("atop")}""".stripMargin,
    "pq_recall" ->
      s"""WITH $normSql,
         |$bruteCtes,
         |${EmbeddingStatsPack.centroidSql},
         |cq AS (SELECT CAST(label AS BIGINT) AS code, dim,
         |              CAST(FLOOR(CAST(sum_q AS DOUBLE) / n + 0.5) AS BIGINT) AS centroid_q FROM c),
         |qs AS (SELECT vec_id, (dim - 1) // 8 AS sub, dim, xq FROM q),
         |cdist AS (
         |  SELECT qs.vec_id, qs.sub, cq.code,
         |         CAST(SUM((qs.xq - cq.centroid_q) * (qs.xq - cq.centroid_q)) AS BIGINT) AS dist2_q
         |  FROM qs JOIN cq ON qs.dim = cq.dim
         |  GROUP BY qs.vec_id, qs.sub, cq.code
         |),
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2_q, code) AS rn
         |    FROM cdist
         |  ) WHERE rn = 1
         |),
         |pscored AS (
         |  SELECT l.vec_id AS qid, cd.vec_id, CAST(SUM(l.dist2_q) AS BIGINT) AS adist_q
         |  FROM codes cd JOIN cdist l ON cd.sub = l.sub AND cd.code = l.code
         |  WHERE l.vec_id < 10 AND cd.vec_id <> l.vec_id
         |  GROUP BY l.vec_id, cd.vec_id
         |),
         |atop AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |    FROM pscored
         |  ) WHERE rnk <= 5
         |),
         |${recallTail("atop")}""".stripMargin,
    "pq_knn" ->
      s"""WITH ${EmbeddingStatsPack.centroidSql},
         |cq AS (SELECT CAST(label AS BIGINT) AS code, dim,
         |              CAST(FLOOR(CAST(sum_q AS DOUBLE) / n + 0.5) AS BIGINT) AS centroid_q FROM c),
         |qs AS (SELECT vec_id, (dim - 1) // 8 AS sub, dim, xq FROM q),
         |cdist AS (
         |  SELECT qs.vec_id, qs.sub, cq.code,
         |         CAST(SUM((qs.xq - cq.centroid_q) * (qs.xq - cq.centroid_q)) AS BIGINT) AS dist2_q
         |  FROM qs JOIN cq ON qs.dim = cq.dim
         |  GROUP BY qs.vec_id, qs.sub, cq.code
         |),
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2_q, code) AS rn
         |    FROM cdist
         |  ) WHERE rn = 1
         |),
         |scored AS (
         |  SELECT l.vec_id AS qid, c.vec_id, CAST(SUM(l.dist2_q) AS BIGINT) AS adist_q
         |  FROM codes c JOIN cdist l ON c.sub = l.sub AND c.code = l.code
         |  WHERE l.vec_id < 10 AND c.vec_id <> l.vec_id
         |  GROUP BY l.vec_id, c.vec_id
         |)
         |SELECT qid, vec_id, adist_q, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |  FROM scored
         |) WHERE rnk <= 5""".stripMargin,
    "pq_rerank" ->
      s"""WITH $pqRerankCtes
         |SELECT qid, vec_id, cosine_e4, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
         |  FROM rescored
         |) WHERE rnk <= 5""".stripMargin,
    "rerank_recall" ->
      s"""WITH $pqRerankCtes,
         |atop AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
         |    FROM rescored
         |  ) WHERE rnk <= 5
         |),
         |$bruteCtes,
         |${recallTail("atop")}""".stripMargin,
    "ivfpq_knn" ->
      s"""WITH $ivfPqCtes
         |SELECT qid, vec_id, adist_q, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |  FROM ipscored
         |) WHERE rnk <= 5""".stripMargin,
    "ivfpq_res" ->
      s"""WITH $ivfPqResCtes
         |SELECT qid, vec_id, adist_q, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |  FROM iprscored
         |) WHERE rnk <= 5""".stripMargin,
    "ivfpqres_recall" ->
      s"""WITH $ivfPqResCtes,
         |atop AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |    FROM iprscored
         |  ) WHERE rnk <= 5
         |),
         |$normSql,
         |$bruteCtes,
         |${recallTail("atop")}""".stripMargin,
    "ivfpq_res_t" ->
      s"""WITH $ivfPqResTrainedCtes
         |SELECT qid, vec_id, adist_q, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |  FROM trscored
         |) WHERE rnk <= 5""".stripMargin,
    // the served-index search must return the fresh-build chain's answer
    // bit-for-bit — same oracle as ivfpq_res_t BY DESIGN
    "ann_served" ->
      s"""WITH $ivfPqResTrainedCtes
         |SELECT qid, vec_id, adist_q, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |  FROM trscored
         |) WHERE rnk <= 5""".stripMargin,
    // the serve-only twin answers identically (same stored-index serve,
    // index prebuilt outside the timer) — same oracle BY DESIGN
    "ann_serve_only" ->
      s"""WITH $ivfPqResTrainedCtes
         |SELECT qid, vec_id, adist_q, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |  FROM trscored
         |) WHERE rnk <= 5""".stripMargin,
    // append-only: the returned frame is the sidecar read-back of the
    // appended batch — every id of the fixed 200-vector batch, once
    "ann_append_only" -> "SELECT vec_id FROM embeddings WHERE vec_id < 200",
    // the streaming serve is stateless per trigger, so its answer IS the
    // batch serve's — same oracle as ann_serve_only BY DESIGN
    "ann_serve_stream" ->
      s"""WITH $ivfPqResTrainedCtes
         |SELECT qid, vec_id, adist_q, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |  FROM trscored
         |) WHERE rnk <= 5""".stripMargin,
    // append path: build + TRAIN on the stable md5 half, append the rest
    // through the stored quantizer — identical to fitting BOTH quantizer
    // stages on the half and encoding everything
    "ann_ingest" ->
      s"""WITH ${ivfPqResTrainedCtesP(
             EmbeddingStatsPack.vecSamplePred(50), EmbeddingStatsPack.vecSamplePred(50))}
         |SELECT qid, vec_id, adist_q, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |  FROM trscored
         |) WHERE rnk <= 5""".stripMargin,
    // delete path: the fresh chain minus the tombstoned band, slots
    // backfilled by re-ranking the survivors
    "ann_deleted" ->
      s"""WITH $ivfPqResTrainedCtes
         |SELECT qid, vec_id, adist_q, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |  FROM trscored WHERE NOT (vec_id % 10 = 3 AND vec_id >= 10)
         |) WHERE rnk <= 5""".stripMargin,
    // drift health census: per-posting-list quantization error of the
    // held-out half against the stored train-time baseline (integer
    // censuses both sides; DuckDB's HUGEINT sums mirror the decimal path)
    "ann_drift" ->
      s"""WITH ${ivfPqResTrainedCtesP(
             EmbeddingStatsPack.vecSamplePred(50), EmbeddingStatsPack.vecSamplePred(50))},
         |errs AS (
         |  SELECT vec_id, sub, MIN(dist2_q) AS e FROM td2 GROUP BY vec_id, sub
         |),
         |vtot AS (
         |  SELECT e.vec_id, co.center, SUM(e.e) AS verr
         |  FROM errs e JOIN corpusf co ON co.vec_id = e.vec_id
         |  GROUP BY e.vec_id, co.center
         |),
         |tct AS (
         |  SELECT center, CAST(COUNT(*) AS BIGINT) AS n_train,
         |         SUM(verr) AS sum_train, CAST(MAX(verr) AS BIGINT) AS max_train
         |  FROM vtot WHERE ${EmbeddingStatsPack.vecSamplePred(50)} GROUP BY center
         |),
         |tcb2 AS (
         |  SELECT center, CAST(COUNT(*) AS BIGINT) AS n_batch,
         |         SUM(verr) AS sum_batch, CAST(MAX(verr) AS BIGINT) AS max_batch
         |  FROM vtot WHERE NOT (${EmbeddingStatsPack.vecSamplePred(50)}) GROUP BY center
         |)
         |SELECT t.center, t.n_train,
         |       CAST(t.sum_train // t.n_train AS BIGINT) AS mean_train,
         |       COALESCE(b.n_batch, CAST(0 AS BIGINT)) AS n_batch,
         |       CASE WHEN b.n_batch > 0
         |            THEN CAST(b.sum_batch // b.n_batch AS BIGINT) END AS mean_batch,
         |       CASE WHEN b.n_batch > 0 AND (t.sum_train // t.n_train) > 0
         |            THEN CAST((b.sum_batch // b.n_batch) * 10000 // (t.sum_train // t.n_train) AS BIGINT)
         |            END AS drift_e4,
         |       t.max_train, b.max_batch
         |FROM tct t LEFT JOIN tcb2 b ON t.center = b.center""".stripMargin,
    "ivfpqrest_recall" ->
      s"""WITH $ivfPqResTrainedCtes,
         |atop AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |    FROM trscored
         |  ) WHERE rnk <= 5
         |),
         |$normSql,
         |$bruteCtes,
         |${recallTail("atop")}""".stripMargin,
    // the sample-trained twin (trainPct = 50): fit on the md5 half,
    // encode + search the full corpus
    "ivfpq_res_ts" ->
      s"""WITH ${ivfPqResTrainedCtesP(EmbeddingStatsPack.vecSamplePred(50))}
         |SELECT qid, vec_id, adist_q, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |  FROM trscored
         |) WHERE rnk <= 5""".stripMargin,
    "ivfpqrests_recall" ->
      s"""WITH ${ivfPqResTrainedCtesP(EmbeddingStatsPack.vecSamplePred(50))},
         |atop AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |    FROM trscored
         |  ) WHERE rnk <= 5
         |),
         |$normSql,
         |$bruteCtes,
         |${recallTail("atop")}""".stripMargin,
    "ivfpq_recall" ->
      s"""WITH $ivfPqCtes,
         |atop AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |    FROM ipscored
         |  ) WHERE rnk <= 5
         |),
         |$normSql,
         |$bruteCtes,
         |${recallTail("atop")}""".stripMargin,
    "ivfpq_rerank" ->
      s"""WITH $ivfPqCtes,
         |ipshort AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_q, vec_id) AS rnk
         |    FROM ipscored
         |  ) WHERE rnk <= 20
         |),
         |$normSql,
         |iprescored AS (
         |  SELECT s.qid, s.vec_id,
         |         CAST($cosSql AS BIGINT) AS cosine_e4
         |  FROM ipshort s JOIN n ca ON ca.vec_id = s.vec_id JOIN n qa ON qa.vec_id = s.qid
         |)
         |SELECT qid, vec_id, cosine_e4, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_e4 DESC, vec_id) AS rnk
         |  FROM iprescored
         |) WHERE rnk <= 5""".stripMargin,
    "emb_near_dups" ->
      s"""WITH $normSql, $bucketSql,
         |bok AS (SELECT bucket FROM bk GROUP BY bucket HAVING COUNT(*) <= ${AnnOps.MaxEmbBucket}),
         |nb AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk ON n.vec_id = bk.vec_id
         |       JOIN bok ON bk.bucket = bok.bucket)
         |SELECT qa.vec_id AS va, ca.vec_id AS vb,
         |       CAST($cosSql AS BIGINT) AS cosine_e4
         |FROM nb qa JOIN nb ca ON qa.bucket = ca.bucket AND qa.vec_id < ca.vec_id
         |WHERE $cosSql >= 4000""".stripMargin,
    "knn_graph" ->
      s"""WITH $normSql, $bucketSql,
         |bok AS (SELECT bucket FROM bk GROUP BY bucket HAVING COUNT(*) <= ${AnnOps.MaxEmbBucket}),
         |nb AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk ON n.vec_id = bk.vec_id
         |       JOIN bok ON bk.bucket = bok.bucket),
         |edges AS (
         |  SELECT qa.vec_id AS vec_id, ca.vec_id AS nbr_id,
         |         CAST($cosSql AS BIGINT) AS cosine_e4
         |  FROM nb qa JOIN nb ca ON qa.bucket = ca.bucket AND qa.vec_id <> ca.vec_id
         |)
         |SELECT vec_id, nbr_id, cosine_e4, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine_e4 DESC, nbr_id) AS rnk
         |  FROM edges
         |) WHERE rnk <= 3""".stripMargin,
    "emb_near_dups_mp" ->
      s"""WITH $normSql, $bucketSql,
         |bok AS (SELECT bucket FROM bk GROUP BY bucket HAVING COUNT(*) <= ${AnnOps.MaxEmbBucket}),
         |nb AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk ON n.vec_id = bk.vec_id
         |       JOIN bok ON bk.bucket = bok.bucket),
         |probes AS (
         |  SELECT vec_id AS pvid,
         |         CASE WHEN j.j = ${AnnOps.NumPlanes} THEN bucket
         |              ELSE xor(bucket, CAST(POW(2, j.j) AS BIGINT)) END AS probe
         |  FROM nb, range(0, ${AnnOps.NumPlanes + 1}) j(j)
         |),
         |cand AS (
         |  SELECT p.pvid AS va, h.vec_id AS vb
         |  FROM probes p JOIN nb h ON p.probe = h.bucket AND p.pvid < h.vec_id
         |)
         |SELECT c.va, c.vb, CAST($cosSql AS BIGINT) AS cosine_e4
         |FROM cand c JOIN nb qa ON qa.vec_id = c.va JOIN nb ca ON ca.vec_id = c.vb
         |WHERE $cosSql >= 4000""".stripMargin,
    "emb_near_dups_16p" ->
      s"""WITH $normSql, ${bucketSqlFor(16)},
         |bok AS (SELECT bucket FROM bk GROUP BY bucket HAVING COUNT(*) <= ${AnnOps.MaxEmbBucket}),
         |nb AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk ON n.vec_id = bk.vec_id
         |       JOIN bok ON bk.bucket = bok.bucket)
         |SELECT qa.vec_id AS va, ca.vec_id AS vb,
         |       CAST($cosSql AS BIGINT) AS cosine_e4
         |FROM nb qa JOIN nb ca ON qa.bucket = ca.bucket AND qa.vec_id < ca.vec_id
         |WHERE $cosSql >= 4000""".stripMargin,
    "sem_dedup" ->
      s"""WITH $normSql, $bucketSql,
         |bok AS (SELECT bucket FROM bk GROUP BY bucket HAVING COUNT(*) <= ${AnnOps.MaxEmbBucket}),
         |nb AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk ON n.vec_id = bk.vec_id
         |       JOIN bok ON bk.bucket = bok.bucket),
         |epairs AS (
         |  SELECT qa.vec_id AS da, ca.vec_id AS db,
         |         CAST($cosSql AS BIGINT) AS cosine_e4
         |  FROM nb qa JOIN nb ca ON qa.bucket = ca.bucket AND qa.vec_id < ca.vec_id
         |  WHERE $cosSql >= 4000
         |),
         |${graft.operators.DedupPack.postingsSql},
         |inter AS (
         |  SELECT p.da, p.db, COUNT(*) AS inter
         |  FROM epairs p
         |  JOIN sh a ON a.doc_id = p.da
         |  JOIN sh b ON b.doc_id = p.db AND a.x31 = b.x31
         |  GROUP BY p.da, p.db
         |),
         |jac AS (
         |  SELECT i.da, i.db,
         |         CAST(FLOOR((i.inter / CAST(sa.n_shingles + sb.n_shingles - i.inter AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS jaccard_e4
         |  FROM inter i
         |  JOIN sizes sa ON i.da = sa.doc_id
         |  JOIN sizes sb ON i.db = sb.doc_id
         |)
         |SELECT e.da, e.db, e.cosine_e4, CAST(COALESCE(j.jaccard_e4, 0) AS BIGINT) AS jaccard_e4
         |FROM epairs e LEFT JOIN jac j ON e.da = j.da AND e.db = j.db""".stripMargin
  )
}
