package graft.operators

import graft.QueryPack
import graft.contract.IndexFixtures
import graft.functions.TextFunctions._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for a training-data pipeline over `documents`:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: nothing here is O(N²). Exact dedup is one hash
  * aggregate. Pairs meet only through bounded meeting points:
  *   - Jaccard pairs through shared-shingle postings, with shingles
  *     above [[MaxShingleDf]] document frequency dropped first
  *     ([[cappedPostings]]) — a shingle in d docs emits O(d²) pairs out
  *     of the posting self-join, and at corpus scale stop-word trigrams
  *     have d in the millions, so the join OUTPUT (not just a skewed
  *     partition, which AQE could split) would be quadratic without the
  *     cap. Jaccard is then defined over the capped shingle space —
  *     stop-list semantics, standard practice in near-dup pipelines.
  *   - MinHash pairs through band-signature buckets and SimHash pairs
  *     through 16-bit band buckets, each bucket capped at
  *     [[MaxBandBucket]] members ([[capBuckets]]) — degenerate
  *     signatures (empty/boilerplate docs that minhash identically)
  *     would otherwise square inside one bucket. Identical-content
  *     groups a dropped bucket may hide are still caught by [[exact]].
  * Residual skew below the caps is AQE skew-join territory.
  */
object DedupOps {

  /** Document-frequency cap on shingles feeding the Jaccard pair
    * generator: a shingle present in more docs than this is boilerplate
    * (stop-word trigrams, templates) and is excluded from the shingle
    * space. Bounds the posting self-join output at O(corpus · MaxDf)
    * instead of Σ df².
    *
    * Sizing: this fixed value is calibrated to the fixture corpus, where
    * only corpus-wide boilerplate crosses it (the premise behind the
    * capping-is-monotone property test). At production scale a fixed df
    * is the wrong shape — a shingle with df just over 128 in a billion-
    * doc corpus is rare, not boilerplate, and dropping it can RAISE a
    * pair's Jaccard (one-sided removal shrinks a doc size with the
    * intersection intact). Size the cap as a df FRACTION of the corpus
    * there (e.g. df ≤ 1e-4·N) via the public `maxDf` knob on
    * [[ngramJaccard]]/[[containmentDedup]] — [[dfCapFraction]] computes
    * the sized cap, and the banded blockers expose the matching
    * `bucketCap` knob. */
  val MaxShingleDf = 128L

  /** Membership cap on LSH band buckets and SimHash band buckets: a
    * bucket larger than this is a degenerate signature (near-empty or
    * boilerplate docs), and its members are dropped from that band —
    * they still meet through their other bands, and identical content
    * is caught by [[exact]]. Bounds per-bucket pair fan-out at
    * O(MaxBandBucket²). */
  val MaxBandBucket = 128L

  /** Production df-cap sizing — the helper the [[MaxShingleDf]] scaladoc
    * prescribes: at corpus scale the cap should be a FRACTION of the
    * corpus (df ≤ fraction·N marks true boilerplate), floored at the
    * fixture constant so small corpora keep the calibrated behavior.
    * Pass the result as `maxDf` to [[ngramJaccard]] /
    * [[containmentDedup]] (and, scaled to taste, as `bucketCap` to the
    * banded blockers). */
  def dfCapFraction(nDocs: Long, fraction: Double = 1e-4): Long =
    math.max(MaxShingleDf, math.ceil(nDocs * fraction).toLong)

  /** Postings restricted to the capped shingle space: shingles whose
    * document frequency exceeds `maxDf` are dropped. The window's x31
    * hash partitioning is the same key the downstream posting self-join
    * shuffles on, so the exchange is reused. */
  private[operators] def cappedPostings(postings: DataFrame, maxDf: Long = MaxShingleDf): DataFrame = {
    val w = Window.partitionBy("x31")
    postings
      .withColumn("__df", count(lit(1)).over(w))
      .filter(col("__df") <= maxDf)
      .drop("__df")
  }

  /** Drops every row of a bucket whose membership exceeds `cap` — the
    * shared degenerate-bucket guard for the banded self-joins (MinHash
    * band/sig, SimHash band/value). The window shuffles on the bucket
    * key, which is exactly the self-join key, so the exchange is
    * reused. */
  private[operators] def capBuckets(
      banded: DataFrame, bucketCols: Seq[String], cap: Long = MaxBandBucket): DataFrame = {
    val w = Window.partitionBy(bucketCols.map(col): _*)
    banded
      .withColumn("__bsz", count(lit(1)).over(w))
      .filter(col("__bsz") <= cap)
      .drop("__bsz")
  }

  /** The exact-dup reporting convention shared by [[exact]] and
    * [[CurationOps.chunkDedup]]: group `keyed` rows by `keyCol`, attach
    * `group_sz` and the lexicographically-first `idCols` identity as
    * `__canon` (a struct), keep only real duplicate groups. One window
    * over the 16-byte-key shuffle. */
  private[operators] def dupGroups(
      keyed: DataFrame, keyCol: String, idCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCol)
    keyed
      .withColumn("group_sz", count(lit(1)).over(w))
      .withColumn("__canon", min(struct(idCols.map(col): _*)).over(w))
      .filter(col("group_sz") > 1)
  }

  /** Exact dedup on a head fingerprint (first 5 tokens): duplicate groups
    * with a canonical (min) doc per group. One groupBy — the pattern that
    * dedups 100 TB in a single shuffle of 16-byte keys. */
  def exact(docs: DataFrame): DataFrame = {
    val keyed = docs.select(
      col("doc_id"),
      md5(array_join(slice(tokens(col("text")), 1, 5), " ")).as("dup_key"))
    dupGroups(keyed, "dup_key", Seq("doc_id"))
      .select(col("doc_id"), col("__canon.doc_id").as("canonical_id"), col("group_sz"),
        (col("doc_id") === col("__canon.doc_id")).as("is_canonical"))
  }

  /** NFC-composed exact dedup — the proof that
    * [[TextOps.normalizeAtIngest]] actually repairs byte-keyed dedup on
    * mixed canonical forms. The fixture is ASCII, so the query PLANTS
    * the hazard: every doc becomes a twin pair whose first token is
    * "café" in DECOMPOSED form (e + U+0301) on the even id and
    * PRECOMPOSED form (U+00E9) on the odd id. Raw md5 head keys see two
    * different byte strings — [[exact]] on the planted frame finds NO
    * cross-form pairs — while the ingest pass collapses each pair into
    * one dup class (plus whatever same-head merges the raw corpus
    * already had). Oracled via DuckDB's `nfc_normalize`, which
    * implements the same UAX #15 tables as the JVM normalizer. */
  def exactNfc(docs: DataFrame): DataFrame =
    exact(TextOps.normalizeAtIngest(plantedNfcTwins(docs)))

  /** The planted mixed-canonical-form corpus behind [[exactNfc]] \u2014
    * exposed for the guard property (normalized dup classes must be a
    * superset of raw-byte dup classes on this frame). */
  private[graft] def plantedNfcTwins(docs: DataFrame): DataFrame = {
    val dec = docs.select((col("doc_id") * 2).as("doc_id"),
      concat(lit("cafe\u0301 "), col("text")).as("text"))
    val pre = docs.select((col("doc_id") * 2 + 1).as("doc_id"),
      concat(lit("caf\u00e9 "), col("text")).as("text"))
    dec.unionByName(pre)
  }

  /** Test hook: the postings plan `PlanQualitySpec` inspects. */
  private[graft] def postingsForProfile(docs: DataFrame): DataFrame = shinglePostings(docs)

  /** Dev-tool hook (TimeSeq cache probe): the postings plan WITHOUT the
    * .cache() registration, so a CacheManager lookup reflects reality. */
  private[graft] def postingsPlanForProbe(docs: DataFrame): DataFrame = postingsPlan(docs, spread = true)

  /** Distinct (doc_id, shingle-hash) postings — shared by minhash /
    * simhash / jaccard. Shingles come from posexplode + two window leads
    * rather than a higher-order `transform` lambda: the window variant is
    * fully codegen'd (3-5× faster locally), and its doc_id shuffle is
    * reused by the very next distinct/groupBy stages, so no extra
    * exchange survives at scale. */
  private def postingsPlan(docs: DataFrame, spread: Boolean): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // Par.spread: the tokenize+explode otherwise runs at the scan's
    // parallelism (ONE task on the single-row-group fixtures). Gated off
    // on per-batch paths ([[batchMinhashWide]]): a bounded ingest batch
    // pays a round-robin exchange plus a planning probe per call that
    // its few-hundred-doc tokenize never earns back.
    (if (spread) Par.spread(docs) else docs)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("t1", lead("tok", 1).over(w))
      .withColumn("t2", lead("tok", 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
        stableHash31(concat_ws(" ", col("tok"), col("t1"), col("t2"))).as("x31"))
      .distinct()
  }

  private[operators] def shinglePostings(docs: DataFrame): DataFrame =
    // Materialize once, share everywhere: the dedup/curation family
    // references the postings 5+ times per query (signatures, the df²
    // self-join, sizes, candidate restriction) and Spark re-derives the
    // whole explode+window subtree per reference (28 parquet scans in
    // the minhash plan before this). CacheManager keys on the canonical
    // plan, so every operator over the same docs converges to ONE
    // shared entry; MEMORY_AND_DISK spills instead of OOMing at scale —
    // the classic "build the posting list once" pattern. Lifecycle and
    // staleness controls live in graft.Caching (opt-out conf + release).
    graft.Caching.maybeCache(postingsPlan(docs, spread = true))

  private def shingleSizes(postings: DataFrame): DataFrame =
    postings.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))

  /** Shared-shingle intersection counts for every co-occurring doc pair:
    * a single postings self-join keyed on the shingle hash. This is the
    * posting-list pattern — cost is Σ df(shingle)², never |pairs|×|doc|,
    * and AQE skew-join splits hot shingles. */
  private def sharedCounts(postings: DataFrame): DataFrame =
    postings.as("pa")
      .join(postings.as("pb"),
        col("pa.x31") === col("pb.x31") && col("pa.doc_id") < col("pb.doc_id"))
      .groupBy(col("pa.doc_id").as("da"), col("pb.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))

  /** Per-pair overlap statistics (da < db): (inter, na, nb) for every
    * co-occurring (or candidate) pair — the shared numerator/denominator
    * frame BOTH similarity scores (Jaccard, containment) project from,
    * so the expensive posting self-join is computed once whichever
    * score a query asks for. Intersections come from the shingle-keyed
    * self-join, then a semi-filter on the candidates — NOT a
    * pairs×shingles expansion (which explodes when banding is
    * permissive). */
  private[operators] def pairStats(postings: DataFrame, pairs: Option[DataFrame]): DataFrame = {
    val sizes = shingleSizes(postings)
    val inter = pairs.fold(sharedCounts(postings)) { p =>
      // candidates are sparse after banding: restrict the postings to docs
      // that appear in some candidate pair BEFORE the df² self-join, so its
      // cost tracks the candidate set, not the corpus. Restriction keeps
      // every shingle of a kept doc, so intersection counts stay exact;
      // the final semi-join drops incidental non-candidate co-occurrences.
      val candDocs = p.select(col("da").as("doc_id"))
        .unionByName(p.select(col("db").as("doc_id")))
        .distinct()
      // cached: the self-join reads the restricted postings twice, and
      // without a materialization each side re-runs the semi-join
      val restricted = graft.Caching.maybeCache(
        postings.join(candDocs, Seq("doc_id"), "left_semi"))
      sharedCounts(restricted).join(p, Seq("da", "db"), "left_semi")
    }
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n_shingles").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n_shingles").as("nb")), "db")
  }

  /** Exact Jaccard for candidate pairs (da < db), over [[pairStats]]. */
  private[operators] def verifyJaccard(postings: DataFrame, pairs: Option[DataFrame]): DataFrame =
    pairStats(postings, pairs)
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .select(col("da"), col("db"),
        floor(col("jaccard") * 10000 + 0.5).cast("long").as("jaccard_e4"))

  /** n-gram Jaccard dedup: all co-occurring pairs, exact Jaccard >=
    * threshold. Operates on the [[MaxShingleDf]]-capped shingle space
    * (see [[cappedPostings]]): sizes, intersections, and the pair set
    * itself all exclude boilerplate shingles, so the posting self-join
    * output is bounded by corpus · MaxDf, never Σ df². */
  /** Cached (da, db, inter, na, nb) over the capped shingle space —
    * computed once for the whole dedup family: the jaccard/clusters/span
    * thresholds AND the containment score all project from this one
    * materialization of the df² self-join. */
  private def cappedPairStats(docs: DataFrame, maxDf: Long = MaxShingleDf): DataFrame = {
    // cached: pairStats references the capped postings three times
    // (self-join twice + sizes), and the capped frame is shared across
    // every consumer of the capped shingle space
    val capped = graft.Caching.maybeCache(cappedPostings(shinglePostings(docs), maxDf))
    graft.Caching.maybeCache(pairStats(capped, None))
  }

  /** `maxDf` is the public scale knob ([[MaxShingleDf]] scaladoc /
    * [[dfCapFraction]]): a 100-TB caller sizes the boilerplate cap as a
    * df fraction of its corpus instead of editing the library. */
  def ngramJaccard(
      docs: DataFrame, thresholdE4: Long = 8000L, maxDf: Long = MaxShingleDf): DataFrame =
    cappedPairStats(docs, maxDf)
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .select(col("da"), col("db"),
        floor(col("jaccard") * 10000 + 0.5).cast("long").as("jaccard_e4"))
      .filter(col("jaccard_e4") >= thresholdE4)

  /** Threshold sweep for the Jaccard dedup: the full similarity
    * DISTRIBUTION over every co-occurring pair in the capped shingle
    * space, binned at 500-e4 steps, with the cumulative pair count at
    * or above each bin — i.e. what every candidate threshold would
    * keep, in one query, instead of re-running [[ngramJaccard]] per
    * threshold. The input is the same cached [[cappedPairStats]] frame
    * the jaccard/containment queries project from, so the sweep adds
    * one groupBy over pairs plus a window over the ≤21-row bin table.
    * At 100 TB the pair universe is df-cap-bounded exactly like
    * [[ngramJaccard]]'s — the sweep costs what one dedup run costs. */
  def jaccardSweep(docs: DataFrame): DataFrame = {
    val binned = cappedPairStats(docs, MaxShingleDf)
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .select((floor(col("jaccard") * 10000 + 0.5).cast("long") - (floor(col("jaccard") * 10000 + 0.5).cast("long") % 500L)).as("bin_lo_e4"))
      .groupBy("bin_lo_e4")
      .agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy(col("bin_lo_e4").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned.withColumn("n_at_or_above", sum(col("n_pairs")).over(w))
  }

  /** Auto-threshold from a pair budget: the LOWEST (most inclusive)
    * sweep bin whose at-or-above pair count fits `maxPairs` — the
    * operator's answer to "I can afford to verify/merge N pairs, where
    * do I set the Jaccard threshold". One row (bin, pairs kept at it);
    * EMPTY when even the top bin exceeds the budget (the caller's signal
    * that the budget is unreachable at this binning, not a silently
    * clamped guess). Runs on [[jaccardSweep]]'s ≤21-row bin table, so
    * the cost is one sweep whatever the corpus size. Note the 500-wide
    * binning is conservative: the returned bin's `n_pairs_kept` can sit
    * well under `maxPairs` when the next bin down would overshoot —
    * callers wanting a tighter fit re-bin, they don't re-sweep. Both the
    * default budget and a non-default one (25) are oracled
    * (`sweep_threshold` / `sweep_threshold25`). */
  def sweepThreshold(docs: DataFrame, maxPairs: Long = 100L): DataFrame =
    jaccardSweep(docs)
      .filter(col("n_at_or_above") <= maxPairs)
      .orderBy(col("bin_lo_e4"))
      .limit(1)
      .select(col("bin_lo_e4").as("threshold_e4"), col("n_at_or_above").as("n_pairs_kept"))

  /** Containment dedup: inter / min(|a|, |b|) over the capped shingle
    * space — the Broder containment score. Catches the near-SUPERSET
    * shape whole-doc Jaccard misses: a short document fully embedded in
    * a boilerplate-wrapped longer one has low Jaccard (the union is
    * dominated by the wrapper) but containment ≈ 1. Same pair meeting
    * points and caps as [[ngramJaccard]], and the same cached
    * [[cappedPairStats]] frame — asking for both scores costs one df²
    * self-join, not two. */
  def containmentDedup(
      docs: DataFrame, thresholdE4: Long = 8000L, maxDf: Long = MaxShingleDf): DataFrame =
    cappedPairStats(docs, maxDf)
      .withColumn("containment",
        col("inter") / least(col("na"), col("nb")))
      .select(col("da"), col("db"),
        floor(col("containment") * 10000 + 0.5).cast("long").as("containment_e4"))
      .filter(col("containment_e4") >= thresholdE4)

  /** Incremental ingest dedup: admit docs from a new batch (doc_id >=
    * `watermarkId` in the fixture; a date/partition predicate in
    * production) only if their content fingerprint is absent from the
    * existing corpus AND first within the batch. The growing-corpus
    * pattern: the old side reduces to a fingerprint set (16-byte keys,
    * not documents), the within-batch tie falls to min doc_id, and both
    * checks ride one shuffle on the fingerprint — the batch twin of
    * streaming/StreamingOps.ingestDedupStream's watermark state. The
    * fingerprint is the same head key exact() uses (first 5 tokens);
    * production swaps in whatever canonicalized content hash it trusts. */
  def incrDedup(docs: DataFrame, watermarkId: Long): DataFrame = {
    val keyed = docs.select(
      col("doc_id"),
      md5(array_join(slice(tokens(col("text")), 1, 5), " ")).as("fp"))
    val existing = keyed.filter(col("doc_id") < watermarkId).select("fp").distinct()
    val batch = keyed.filter(col("doc_id") >= watermarkId)
    val w = Window.partitionBy("fp").orderBy("doc_id")
    batch
      .join(existing, Seq("fp"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fp"))
  }

  val MinhashK = 12
  val BandSize = 3

  /** Per-doc banded minhash signatures: (doc_id, band, sig).
    *
    * All K permutations are min-aggregated as K columns in ONE groupBy
    * (map-side partial min, single |postings| shuffle) — not a K× row
    * blowup with two aggregation shuffles. The numPerms/bandSize-rows-
    * per-doc band layout is then a cheap per-doc explode of an inline
    * array.
    *
    * `(numPerms, bandSize)` is the LSH precision/recall dial (default
    * 12 perms / 4 bands of 3): with b bands of r rows, a pair at
    * Jaccard s collides with probability 1 − (1 − s^r)^b. More bands at
    * fixed r raises recall monotonically (each extra band only ADDS
    * collision chances — the candidate set grows to a superset, the
    * property DedupGuardsSpec pins); larger r sharpens the threshold.
    * Production near-dup pipelines run 64-128 perms; the fixtures
    * default to 12 so the oracled surface stays fast, and the
    * non-default twin (`dedup_minhash24`) proves the dial end-to-end. */
  def minhashSignatures(
      postings: DataFrame, spark: SparkSession,
      numPerms: Int = MinhashK, bandSize: Int = BandSize): DataFrame = {
    require(numPerms > 0 && bandSize > 0 && numPerms % bandSize == 0,
      s"numPerms ($numPerms) must be a positive multiple of bandSize ($bandSize)")
    bandedFromWide(minhashWide(postings, numPerms), numPerms, bandSize)
  }

  /** The wide per-doc minima frame (doc_id, mh0..mh{K-1}) the banded
    * layout derives from — exposed so [[DedupIndexOps]] can build both
    * the banded candidate table and the slim per-permutation signature
    * store from ONE corpus aggregation. */
  private[operators] def minhashWide(postings: DataFrame, numPerms: Int): DataFrame = {
    val mins = (0 until numPerms).map(k =>
      min(minhashPerm(col("x31"), lit(k.toLong))).as(s"mh$k"))
    postings.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** [[minhashWide]] of a BOUNDED batch (the stored-index serve, append
    * and gate paths): no [[Par.spread]] and no postings cache. The
    * postings have exactly one consumer here (the minima aggregation),
    * so a cache entry would buy nothing and would accumulate once per
    * streaming trigger. */
  private[operators] def batchMinhashWide(batch: DataFrame, numPerms: Int): DataFrame =
    minhashWide(postingsPlan(batch, spread = false), numPerms)

  /** (doc_id, band, sig) rows from the wide minima — a cheap per-doc
    * explode of an inline array; `carry` columns of `wide` ride along
    * on every band row. */
  private[operators] def bandedFromWide(
      wide: DataFrame, numPerms: Int, bandSize: Int, carry: Seq[String] = Nil): DataFrame = {
    val bandStructs = (0 until numPerms / bandSize).map { b =>
      struct(
        lit(b.toLong).as("band"),
        concat_ws(",",
          (0 until bandSize).map(i => col(s"mh${b * bandSize + i}").cast("string")): _*).as("sig"))
    }
    wide
      .select((col("doc_id") +: carry.map(col)) :+ explode(array(bandStructs: _*)).as("bs"): _*)
      .select((col("doc_id") +: col("bs.band").as("band") +: col("bs.sig").as("sig") +:
        carry.map(col)): _*)
  }

  /** MinHash+LSH dedup: shingles → K=12 minhashes → 4 bands of 3 →
    * band-bucket join (buckets over [[MaxBandBucket]] members dropped —
    * degenerate signatures would square) → exact-Jaccard verification
    * >= threshold over the full shingle space. */
  /** The banded candidate pair set [[minhashLsh]] verifies — exposed so
    * [[blockerCandidateStats]] can price the verification stage. Cached:
    * the verify stage reads the pair list three times (two candidate-doc
    * projections + the final semi-join); uncached, each reference
    * re-runs the band self-join. */
  private[operators] def minhashCandidates(
      docs: DataFrame, spark: SparkSession, bucketCap: Long = MaxBandBucket,
      numPerms: Int = MinhashK, bandSize: Int = BandSize): DataFrame = {
    // the band self-join reads the capped signatures twice (b rows/doc);
    // caching above the bucket guard would run its window on both reads
    val sigs = graft.Caching.maybeCache(
      capBuckets(minhashSignatures(shinglePostings(docs), spark, numPerms, bandSize),
        Seq("band", "sig"), bucketCap))
    graft.Caching.maybeCache(
      sigs.as("a")
        .join(sigs.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct())
  }

  def minhashLsh(
      docs: DataFrame, spark: SparkSession, thresholdE4: Long = 5000L,
      bucketCap: Long = MaxBandBucket,
      numPerms: Int = MinhashK, bandSize: Int = BandSize): DataFrame =
    verifyJaccard(shinglePostings(docs),
      Some(minhashCandidates(docs, spark, bucketCap, numPerms, bandSize)))
      .filter(col("jaccard_e4") >= thresholdE4)

  /** Token-level longest shared span per near-dup candidate pair — the
    * substring-dedup signal (à la "Deduplicating Training Data Makes
    * Language Models Better": long verbatim overlaps matter even when
    * whole-doc similarity is moderate). A shared run of T tokens yields
    * exactly T-2 consecutive trigram matches on one (pos_a - pos_b)
    * diagonal, so longest span = longest diagonal run + 2 — found with
    * one gaps-and-islands window over matched trigram positions. No LCS
    * dynamic programming, no blowup beyond the shared-trigram matches,
    * and matches only form for candidate docs (semi-filtered first). */
  def pairLongestSpan(docs: DataFrame, thresholdE4: Long = 5000L): DataFrame = {
    val pairs = ngramJaccard(docs, thresholdE4).select("da", "db")
    val candDocs = pairs.select(col("da").as("doc_id"))
      .unionByName(pairs.select(col("db").as("doc_id")))
      .distinct()
    // positions are only needed for candidate docs — filter BEFORE the
    // explode+window, so the position build is |candidates|-sized, not
    // |corpus|-sized
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // cached: the pair-scoped matching reads the position table twice
    // (da side and db side); uncached, the explode+window subtree runs
    // once per side
    val rp = graft.Caching.maybeCache(
      docs
        .join(candDocs, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        .withColumn("t1", lead("tok", 1).over(w))
        .withColumn("t2", lead("tok", 2).over(w))
        .filter(col("t2").isNotNull)
        .select(col("doc_id"), col("pos"),
          stableHash31(concat_ws(" ", col("tok"), col("t1"), col("t2"))).as("x31")))
    // Join positions THROUGH the pair list, never a global x31 self-join:
    // a hot trigram shared by hundreds of candidate docs would square in
    // a global join, while per-pair matching is bounded by |pairs| x
    // (matches within one pair). No broadcast hint: at corpus scale the
    // near-dup pair list is routinely billions of rows (the substring-
    // dedup paper's normal case) — a shuffled join on da scales, and AQE
    // still broadcasts at runtime when the pair list actually fits.
    val matches = pairs
      .join(rp.as("a"), col("da") === col("a.doc_id"))
      .join(rp.as("b"), col("db") === col("b.doc_id") && col("a.x31") === col("b.x31"))
      .select(col("da"), col("db"), col("a.pos").as("pa"), col("b.pos").as("pb"))
      .distinct()
    val w2 = Window.partitionBy("da", "db", "diag").orderBy("pa")
    matches
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w2))
      .groupBy("da", "db", "diag", "grp")
      .agg(count(lit(1)).as("runlen"))
      .groupBy("da", "db")
      .agg((max(col("runlen")) + lit(2)).as("longest_tokens"))
  }

  /** Per-doc 64-bit simhash over shingle hashes: 64 conditional sums in a
    * single aggregation pass (no row blowup — one groupBy over the
    * postings, 64 codegen'd sum columns).
    *
    * Bit k is the parity of [[graft.functions.TextFunctions.minhashPerm]]
    * applied to the 31-bit shingle hash — the shingle hash itself only
    * carries 31 bits, so a 64-bit fingerprint needs 64 derived bit
    * streams, and the affine mod-p family is already engine-portable
    * (the minhash oracle mirrors it). Bit 63 makes the packed Long
    * negative; band extraction masks with `& 65535` so the sign never
    * leaks into bucket values. */
  def simhashes(postings: DataFrame, spark: SparkSession): DataFrame = {
    val bitSums = (0 until 64).map { i =>
      sum(when(minhashPerm(col("x31"), lit(i.toLong)) % 2 === 1, lit(1L)).otherwise(lit(-1L)))
        .as(s"s$i")
    }
    val packed = (0 until 64)
      .map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    postings
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** Per-row simhash: the same 64-bit fingerprint as [[simhashes]],
    * computed entirely within one row by higher-order array functions —
    * no explode, no shuffle, no aggregation — so it can run on an
    * unbounded stream (streaming/StreamingOps.nearDupStream) or as a
    * narrow map over a corpus scan. The batch path keeps the
    * posting-aggregation variant: over the shared postings cache the
    * window plan codegens faster, but both MUST stay bit-identical
    * (pinned by a test) or the streaming gate and the retrospective
    * dedup would disagree on what counts as a near-dup. Docs with fewer
    * than 3 tokens have no trigram and yield NULL, matching their
    * absence from the batch postings. */
  /** Per-row DISTINCT trigram shingle hashes — the row-local twin of the
    * batch [[postingsPlan]] universe (same tokens → trigram →
    * stableHash31 → distinct chain; the equivalence is pinned by the
    * batch/row simhash differential test, which hashes through this
    * array). Empty array for docs under 3 tokens, matching their absence
    * from the batch postings. Shared by [[rowSimhash]] and the streaming
    * decontamination gate (streaming/StreamingOps.contaminationStream),
    * whose exact per-doc shared-shingle count RELIES on the
    * distinctness: each (doc, shingle) row occurs once, so a plain
    * streaming count equals the batch countDistinct. */
  def rowShingles(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    // guard BEFORE sequence(): sequence(1, n-2) with n < 3 would step
    // DOWN and fabricate indices 1,0,-1... (the sequence footgun)
    val idx = when(n >= lit(3), sequence(lit(1), n - 2))
      .otherwise(array().cast("array<int>"))
    val tris = transform(idx, i =>
      concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))
    array_distinct(transform(tris, t => stableHash31(t)))
  }

  def rowSimhash(text: Column): Column = {
    val n = size(tokens(text))
    val hs = rowShingles(text)
    // bit i set iff the +1/-1 sum over shingles is positive: 2*c1 > n
    val sim = (0 until 64)
      .map(i => when(
        size(filter(hs, h => minhashPerm(h, lit(i.toLong)) % 2 === 1)) * 2 > size(hs),
        lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    when(n >= 3, sim)
  }

  /** Capped 4×16-bit banding of every doc's simhash — the shared meeting
    * point for the whole-corpus self-join ([[simhashDedup]]) and the
    * batch-vs-corpus one-sided join ([[incrNearDup]]). Cached twice over:
    * the per-doc simhash (the 64-column aggregation) and the capped
    * banding (the bucket-census window), since every consumer reads the
    * banding at least twice. The `& 65535` mask (not `% 65536`) keeps
    * band values non-negative when bit 63 makes the simhash negative. */
  private[operators] def cappedBanding(
      docs: DataFrame, spark: SparkSession, bucketCap: Long = MaxBandBucket): DataFrame = {
    val sh = graft.Caching.maybeCache(simhashes(shinglePostings(docs), spark))
    val bands = spark.range(4).withColumnRenamed("id", "b")
    graft.Caching.maybeCache(capBuckets(
      sh.crossJoin(broadcast(bands))
        .withColumn("band_val", expr("shiftright(simhash, cast(b * 16 as int)) & 65535")),
      Seq("b", "band_val"), bucketCap))
  }

  /** SimHash near-dup pairs with hamming distance <= 3, found via 4
    * 16-bit band buckets (pigeonhole: hamming<=3 over 4 bands ⇒ at least
    * one identical band, so the banded join loses nothing below the
    * bucket cap).
    *
    * Bucket guard: buckets over [[MaxBandBucket]] members are dropped
    * (shared [[capBuckets]] guard) — pigeonhole bounds MISSES, not
    * bucket SIZE, and a degenerate corpus (boilerplate docs hashing
    * identically) piles into one bucket. The 16-bit width is what makes
    * the cap a pure degeneracy guard at scale: with 65k values per band
    * an HONEST bucket holds E ≈ N/65536 docs (under a cap of 128 up to
    * corpora of ~8M docs per partition-able blocking unit, and the cap
    * can scale with N beyond that), whereas the previous 8-bit bands
    * (256 values) had honest buckets growing past any fixed cap at
    * corpus scale — the cap would then silently eat real near-dups. */
  /** The banded candidate pair set (with both simhashes) that
    * [[simhashDedup]] hamming-verifies — exposed for
    * [[blockerCandidateStats]]. */
  private[operators] def simhashCandidates(
      docs: DataFrame, spark: SparkSession, bucketCap: Long = MaxBandBucket): DataFrame = {
    val banded = cappedBanding(docs, spark, bucketCap)
    banded.as("a")
      .join(banded.as("b2"),
        col("a.b") === col("b2.b") && col("a.band_val") === col("b2.band_val") &&
          col("a.doc_id") < col("b2.doc_id"))
      .select(
        col("a.doc_id").as("da"), col("b2.doc_id").as("db"),
        col("a.simhash").as("sa"), col("b2.simhash").as("sb"))
      .distinct()
  }

  def simhashDedup(
      docs: DataFrame, spark: SparkSession, maxHamming: Int = 3,
      bucketCap: Long = MaxBandBucket): DataFrame =
    simhashCandidates(docs, spark, bucketCap)
      .withColumn("hamming", bit_count(expr("sa ^ sb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming").cast("int").as("hamming"))

  /** Measured pair-recall of each capped near-dup blocker against its
    * brute-force truth set — the blocker analogue of [[AnnOps.annRecall]]
    * (VERDICT r5 ask #3: the caps' recall cost as a number, not an
    * assertion). One row per blocker:
    *   - minhash: truth = full-shingle-space Jaccard ≥ 5000 over all
    *     co-occurring pairs; found = [[minhashLsh]] (banded + capped +
    *     verified).
    *   - simhash: truth = hamming ≤ 3 over ALL doc pairs; found =
    *     [[simhashDedup]] (16-bit bands + bucket cap).
    *   - embedding: truth = cosine ≥ 4000 over ALL vector pairs; found =
    *     [[AnnOps.nearDupPairs]] (LSH-bucket-blocked + capped).
    *   - embedding_mp / embedding_mp2: same truth; found =
    *     [[AnnOps.nearDupPairsMultiProbe]] at 1 and 2 bit flips — the
    *     measured recall ladder multi-probe buys over plain blocking.
    *
    * The truth sides are brute N²/2 EVAL joins (broadcast nested-loop
    * over the slim signature/vector frames) — an evaluation harness,
    * never part of the production dedup path; the found sides are
    * exactly the shipped operators.
    *
    * `samplePct` is how the harness runs at production scale: Some(p)
    * restricts BOTH sides (docs and vectors) to the stable p% sample
    * whose md5 priority bucket — [[graft.functions.TextFunctions
    * .stableHash60]] mod 100, the same deterministic key the curation
    * split/cap/sample family uses — falls below p. Truth and found are
    * then computed over the same sub-corpus, so each row is an unbiased
    * recall measurement at (p/100)² of the brute-force pair cost; the
    * sample is stable across runs and re-shards. None = exact mode over
    * the whole input (fixture scale only: the truth joins are
    * quadratic). */
  def blockerPairRecall(
      docs0: DataFrame,
      embeddings0: DataFrame,
      spark: SparkSession,
      samplePct: Option[Int] = None): DataFrame = {
    require(samplePct.forall(p => p > 0 && p <= 100), s"samplePct in 1..100, got $samplePct")
    val docs = samplePct.fold(docs0)(p =>
      docs0.filter(stableHash60(col("doc_id").cast("string")) % 100L < p))
    val embeddings = samplePct.fold(embeddings0)(p =>
      embeddings0.filter(stableHash60(col("vec_id").cast("string")) % 100L < p))
    val postings = shinglePostings(docs)
    val truthJac = verifyJaccard(postings, None)
      .filter(col("jaccard_e4") >= 5000L).select("da", "db")
    val mhFound = minhashLsh(docs, spark, 5000L).select("da", "db")

    val sh = graft.Caching.maybeCache(simhashes(postings, spark))
    val shTruth = sh.as("a")
      .join(broadcast(sh.as("b")), col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    val shFound = simhashDedup(docs, spark).select("da", "db")

    val n = AnnOps.normalized(embeddings)
    val embTruth = n.as("a")
      .join(broadcast(n.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("da"), col("b.vec_id").as("db"),
        AnnOps.cosineE4(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= 4000L).select("da", "db")
    val embFound = AnnOps.nearDupPairs(embeddings, spark)
      .select(col("va").as("da"), col("vb").as("db"))
    val mpFound = AnnOps.nearDupPairsMultiProbe(embeddings, spark)
      .select(col("va").as("da"), col("vb").as("db"))
    val mp2Found = AnnOps.nearDupPairsMultiProbe(embeddings, spark, bitFlips = 2)
      .select(col("va").as("da"), col("vb").as("db"))

    def row(name: String, truthRaw: DataFrame, found: DataFrame): DataFrame = {
      // truth is read twice (census + the intersection semi-join)
      val truth = graft.Caching.maybeCache(truthRaw)
      val nt = truth.agg(count(lit(1)).as("n_true"))
      val nf = found.join(truth, Seq("da", "db"), "left_semi")
        .agg(count(lit(1)).as("n_found"))
      nt.crossJoin(broadcast(nf)).select(
        lit(name).as("blocker"), col("n_true"), col("n_found"),
        when(col("n_true") === 0, lit(10000L))
          .otherwise(floor(col("n_found") / col("n_true") * 10000 + 0.5).cast("long"))
          .as("recall_e4"))
    }
    // ONE cached truth frame serves the plain and both multi-probe rows
    val embTruthShared = graft.Caching.maybeCache(embTruth)
    // five INDEPENDENT truth/found pipelines — materialize them on
    // overlapping wall-clock (§2.6) instead of letting the union's
    // single action walk them serially; the unioned rows are identical
    Par.materializeConcurrently(Seq(
      row("minhash", truthJac, mhFound),
      row("simhash", shTruth, shFound),
      row("embedding", embTruthShared, embFound),
      row("embedding_mp", embTruthShared, mpFound),
      row("embedding_mp2", embTruthShared, mp2Found)))
      .reduce(_.unionByName(_))
  }

  /** Candidate-efficiency stats per blocker — the COST counterpart of
    * [[blockerPairRecall]]: how many candidate pairs each capped meeting
    * point emits, how many survive verification, and the precision.
    * At 100 TB the candidate fan-out IS the verification bill (every
    * candidate costs an exact Jaccard / hamming / cosine), so this is
    * the number an operator reads before widening bands or adding
    * probes: recall says what blocking loses, precision says what the
    * verifier wastes. One row per blocker:
    *   - minhash: candidates = capped band-bucket pairs; verified =
    *     exact Jaccard ≥ 5000 ([[minhashLsh]]'s own stages).
    *   - simhash: candidates = capped 16-bit-band pairs; verified =
    *     hamming ≤ 3.
    *   - embedding: candidates = LSH bucket pairs; verified = cosine
    *     ≥ 4000.
    * Candidate counts are COUNTs over the exact frames the shipped
    * operators verify — nothing brute-force, so unlike the recall
    * harness this diagnostic runs at full production scale as-is. */
  def blockerCandidateStats(docs: DataFrame, embeddings: DataFrame, spark: SparkSession): DataFrame = {
    val mhCand = minhashCandidates(docs, spark)
    val mhVer = verifyJaccard(shinglePostings(docs), Some(mhCand))
      .filter(col("jaccard_e4") >= 5000L)
    // cached: read twice (candidate census + verified census)
    val shCand = graft.Caching.maybeCache(simhashCandidates(docs, spark))
    val shVer = shCand.filter(bit_count(expr("sa ^ sb")) <= 3)
    val embScored = graft.Caching.maybeCache(AnnOps.nearDupScored(embeddings, spark))
    val embVer = embScored.filter(col("cosine_e4") >= 4000L)
    def row(name: String, cand: DataFrame, ver: DataFrame): DataFrame =
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(broadcast(ver.agg(count(lit(1)).as("n_verified"))))
        .select(lit(name).as("blocker"), col("n_candidates"), col("n_verified"),
          when(col("n_candidates") === 0, lit(10000L))
            .otherwise(floor(col("n_verified") / col("n_candidates") * 10000 + 0.5).cast("long"))
            .as("precision_e4"))
    // three independent candidate/verified pipelines — overlapped (§2.6)
    Par.materializeConcurrently(Seq(
      row("minhash", mhCand, mhVer),
      row("simhash", shCand, shVer),
      row("embedding", embScored, embVer)))
      .reduce(_.unionByName(_))
  }

  /** Cross-source overlap matrix: near-dup pairs ([[simhashDedup]])
    * labeled with their endpoints' sources and rolled up per unordered
    * source pair, normalized by the pair universe (n_a·n_b across
    * sources, n·(n-1)/2 within) into a mirror rate. This is the "is
    * src3 a mirror of src0" curation question: a high cross-source rate
    * means one source republishes another and should be capped or
    * dropped BEFORE spending dedup compute on its docs. Cost on top of
    * the pair set: two joins against the slim (doc_id, source) frame
    * and a groupBy over at most |sources|² rows; the per-source count
    * frame is broadcast. Rate denominator is computed in doubles — at
    * corpus scale n_a·n_b overflows a long, and the rate is a
    * statistic, not a key. */
  def sourceOverlap(docs: DataFrame, spark: SparkSession): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val sizes = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = simhashDedup(docs, spark)
      .join(src.as("s1"), col("da") === col("s1.doc_id"))
      .join(src.as("s2"), col("db") === col("s2.doc_id"))
      .select(
        least(col("s1.source"), col("s2.source")).as("source_a"),
        greatest(col("s1.source"), col("s2.source")).as("source_b"))
    pairs
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .join(broadcast(sizes.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n", "na")), Seq("source_a"))
      .join(broadcast(sizes.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n", "nb")), Seq("source_b"))
      .select(
        col("source_a"), col("source_b"), col("n_pairs"), col("na"), col("nb"),
        floor(col("n_pairs") /
          when(col("source_a") === col("source_b"),
            col("na") * (col("na") - 1) / lit(2.0))
            .otherwise(col("na").cast("double") * col("nb")) * 1000000000L + 0.5)
          .cast("long").as("rate_e9"))
  }

  /** Incremental near-dup: flag each new-batch doc (doc_id >=
    * `watermarkId` in the fixture; a date/partition predicate in
    * production) against the EXISTING corpus — the near-dup analogue of
    * [[incrDedup]] and the batch twin of streaming/StreamingOps
    * .nearDupStream. Candidates meet through the same capped SimHash
    * banding as [[simhashDedup]], but the join is one-sided (new ⋈ old),
    * so a daily batch costs |batch bands| ⋈ |corpus bands|, never
    * corpus². In production the old side reads a STORED signature table
    * (16 bytes/doc) instead of re-hashing the corpus — the banding here
    * recomputes both sides only because the fixture has no signature
    * store; the join shape is identical. */
  def incrNearDup(
      docs: DataFrame,
      spark: SparkSession,
      watermarkId: Long,
      maxHamming: Int = 3,
      bucketCap: Long = MaxBandBucket): DataFrame = {
    val banded = cappedBanding(docs, spark, bucketCap)
    val pairs = banded.as("nw")
      .join(banded.as("old"),
        col("nw.b") === col("old.b") && col("nw.band_val") === col("old.band_val") &&
          col("nw.doc_id") >= watermarkId && col("old.doc_id") < watermarkId)
      .select(
        col("nw.doc_id").as("doc_id"), col("old.doc_id").as("dup_of"),
        col("nw.simhash").as("sa"), col("old.simhash").as("sb"))
      .distinct()
    pairs
      .withColumn("hamming", bit_count(expr("sa ^ sb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id"), col("dup_of"), col("hamming").cast("int").as("hamming"))
  }
}

object DedupPack extends QueryPack {
  private def d(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) => DedupOps.exact(d(s, dir))),
    "dedup_exact_nfc" -> ((s, dir) => DedupOps.exactNfc(d(s, dir))),
    "dedup_jaccard" -> ((s, dir) => DedupOps.ngramJaccard(d(s, dir))),
    "dedup_jaccard64" -> ((s, dir) => DedupOps.ngramJaccard(d(s, dir), maxDf = 64L)),
    "dedup_containment" -> ((s, dir) => DedupOps.containmentDedup(d(s, dir))),
    "dedup_minhash" -> ((s, dir) => DedupOps.minhashLsh(d(s, dir), s)),
    // the band dial at a non-default setting: 24 perms / 8 bands of 3 —
    // double the bands at fixed rows-per-band, i.e. strictly more recall
    "dedup_minhash24" -> ((s, dir) =>
      DedupOps.minhashLsh(d(s, dir), s, numPerms = 24, bandSize = 3)),
    "dedup_simhash" -> ((s, dir) => DedupOps.simhashDedup(d(s, dir), s)),
    "longest_span" -> ((s, dir) => DedupOps.pairLongestSpan(d(s, dir))),
    "incr_dedup" -> ((s, dir) => DedupOps.incrDedup(d(s, dir), 25L)),
    "dedup_served" -> ((s, dir) => IndexFixtures.served(IndexFixtures.Dedup, s, dir)),
    "dedup_serve_only" -> ((s, dir) => IndexFixtures.serveOnly(IndexFixtures.Dedup, s, dir)),
    "dedup_append_only" -> ((s, dir) => IndexFixtures.appendOnly(IndexFixtures.Dedup, s, dir)),
    "dedup_gate_only" -> ((s, dir) => IndexFixtures.dedupGateOnly(s, dir)),
    "dedup_gate_stream" -> ((s, dir) => IndexFixtures.dedupGateStream(s, dir)),
    "dedup_served_ing" -> ((s, dir) => IndexFixtures.ingest(IndexFixtures.Dedup, s, dir)),
    "dedup_served_del" -> ((s, dir) => IndexFixtures.deleted(IndexFixtures.Dedup, s, dir)),
    "dedup_gate" -> ((s, dir) => IndexFixtures.dedupGate(s, dir)),
    "incr_neardup" -> ((s, dir) => DedupOps.incrNearDup(d(s, dir), s, IncrNearDupWatermark)),
    "neardup_recall" -> ((s, dir) =>
      DedupOps.blockerPairRecall(d(s, dir), Tables.embeddings(s, dir), s)),
    "neardup_recall_s" -> ((s, dir) =>
      DedupOps.blockerPairRecall(d(s, dir), Tables.embeddings(s, dir), s,
        samplePct = Some(RecallSamplePct))),
    "blocker_precision" -> ((s, dir) =>
      DedupOps.blockerCandidateStats(d(s, dir), Tables.embeddings(s, dir), s)),
    "source_overlap" -> ((s, dir) => DedupOps.sourceOverlap(d(s, dir), s)),
    "dedup_sweep" -> ((s, dir) => DedupOps.jaccardSweep(d(s, dir))),
    "sweep_threshold" -> ((s, dir) => DedupOps.sweepThreshold(d(s, dir))),
    "sweep_threshold25" -> ((s, dir) => DedupOps.sweepThreshold(d(s, dir), maxPairs = 25L))
  )

  /** Shared SQL: distinct (doc_id, 31-bit shingle hash) postings —
    * parameterized by the document relation so fixture oracles can feed
    * a transformed CTE (the gate-only twin unions a pass-suffixed batch
    * over the corpus). */
  private[operators] def postingsSqlFrom(rel: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $rel),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         CAST(CAST(('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 18, 15)) AS UBIGINT)
      |              % 2147483647 AS BIGINT) AS x31
      |  FROM toks, range(1, ${OracleLimits.MaxDocTokens}) r(i)
      |  WHERE i + 2 <= len(t)
      |),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id)""".stripMargin

  private[operators] val postingsSql = postingsSqlFrom("documents")

  /** Fixture watermark for incr_neardup: docs below are "the corpus",
    * docs at/above are "the new batch". */
  private[graft] val IncrNearDupWatermark = 100L

  /** SimHash + capped 4×16 banding as CTEs through `bf(doc_id, simhash,
    * b, band_val)` — shared by the whole-corpus and incremental oracles,
    * mirroring [[DedupOps.cappedBanding]]. Bit i is the parity of the
    * minhashPerm affine family (same constants as the minhash oracle);
    * bit 63 packs as the BIGINT sign bit, so the band extraction masks
    * with `& 65535` exactly like the Spark side. */
  private val simhashBandSql =
    s"""$postingsSql,
       |bits AS (
       |  SELECT doc_id, i.i,
       |         SUM(CASE WHEN ((((i.i * 2 + 1) * 12582917) % 2147483647) * x31
       |                        + (((i.i + 1) * 2654435761) % 2147483647)) % 2147483647 % 2 = 1
       |                  THEN 1 ELSE -1 END) AS s
       |  FROM sh, range(0, 64) i(i)
       |  GROUP BY doc_id, i.i
       |),
       |hashes AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN s <= 0 THEN 0
       |                       WHEN i = 63 THEN (-9223372036854775807 - 1)
       |                       ELSE CAST(POW(2, i) AS BIGINT) END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id
       |),
       |banded AS (
       |  SELECT doc_id, simhash, r.b AS b, (simhash >> CAST(r.b * 16 AS INT)) & 65535 AS band_val
       |  FROM hashes, range(0, 4) r(b)
       |),
       |bf AS (
       |  SELECT doc_id, simhash, b, band_val FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY b, band_val) AS bsz FROM banded
       |  ) WHERE bsz <= ${DedupOps.MaxBandBucket}
       |)""".stripMargin

  /** Banded minhash signatures as CTEs `mins`/`sigs`/`sigf` (over `sh`) —
    * shared by the dedup_minhash and neardup_recall oracles. */
  private def minhashSigSqlFor(numPerms: Int, bandSize: Int): String =
    s"""mins AS (
       |  SELECT doc_id, k.k,
       |         MIN((((k.k * 2 + 1) * 12582917) % 2147483647 * x31
       |              + ((k.k + 1) * 2654435761) % 2147483647) % 2147483647) AS mh
       |  FROM sh, range(0, $numPerms) k(k)
       |  GROUP BY doc_id, k.k
       |),
       |sigs AS (
       |  SELECT doc_id, (k - k % $bandSize) // $bandSize AS band,
       |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS sig
       |  FROM mins GROUP BY doc_id, (k - k % $bandSize) // $bandSize
       |),
       |sigf AS (
       |  SELECT doc_id, band, sig FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY band, sig) AS bsz FROM sigs
       |  ) WHERE bsz <= ${DedupOps.MaxBandBucket}
       |)""".stripMargin

  private val minhashSigSql = minhashSigSqlFor(DedupOps.MinhashK, DedupOps.BandSize)

  /** The df cap mirrored in SQL: `shc` = postings restricted to the
    * capped shingle space, `sizesc` = doc sizes over it — parameterized
    * the way the Scala side's `maxDf` knob is. */
  private[operators] def cappedPostingsSqlFor(maxDf: Long): String =
    s"""shc AS (
       |  SELECT doc_id, x31 FROM (
       |    SELECT doc_id, x31, COUNT(*) OVER (PARTITION BY x31) AS df FROM sh
       |  ) WHERE df <= $maxDf
       |),
       |sizesc AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shc GROUP BY doc_id)""".stripMargin

  private[operators] val cappedPostingsSql = cappedPostingsSqlFor(DedupOps.MaxShingleDf)

  private def jaccardSql(
      pairsCte: String, threshold: Long, sh: String = "sh", sizes: String = "sizes"): String =
    s"""inter AS (
       |  SELECT p.da, p.db, COUNT(*) AS inter
       |  FROM $pairsCte p
       |  JOIN $sh a ON a.doc_id = p.da
       |  JOIN $sh b ON b.doc_id = p.db AND a.x31 = b.x31
       |  GROUP BY p.da, p.db
       |)
       |SELECT i.da, i.db,
       |       CAST(FLOOR((i.inter / CAST(sa.n_shingles + sb.n_shingles - i.inter AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS jaccard_e4
       |FROM inter i
       |JOIN $sizes sa ON i.da = sa.doc_id
       |JOIN $sizes sb ON i.db = sb.doc_id
       |WHERE (i.inter / CAST(sa.n_shingles + sb.n_shingles - i.inter AS DOUBLE)) * 10000 + 0.5 >= $threshold""".stripMargin

  /** The sweep's binned cumulative distribution as CTEs ending in
    * `cum(bin_lo_e4, n_pairs, n_at_or_above)` — shared by the
    * dedup_sweep and sweep_threshold oracles. */
  private val sweepCumSql =
    s"""WITH $postingsSql,
       |$cappedPostingsSql,
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
       |  FROM shc a JOIN shc b ON a.x31 = b.x31 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |jac AS (
       |  SELECT CAST(FLOOR((i.inter / CAST(sa.n_shingles + sb.n_shingles - i.inter AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS j
       |  FROM inter i
       |  JOIN sizesc sa ON i.da = sa.doc_id
       |  JOIN sizesc sb ON i.db = sb.doc_id
       |),
       |bins AS (
       |  SELECT j - (j % 500) AS bin_lo_e4, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM jac GROUP BY 1
       |),
       |cum AS (
       |  SELECT bin_lo_e4, n_pairs,
       |         CAST(SUM(n_pairs) OVER (ORDER BY bin_lo_e4 DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_or_above
       |  FROM bins
       |)""".stripMargin

  /** sweep_threshold oracle, parameterized by the pair budget the way
    * the Scala side's `maxPairs` knob is. */
  private def sweepThresholdSql(maxPairs: Long): String =
    s"""$sweepCumSql
       |SELECT bin_lo_e4 AS threshold_e4, n_at_or_above AS n_pairs_kept
       |FROM cum WHERE n_at_or_above <= $maxPairs
       |ORDER BY bin_lo_e4 LIMIT 1""".stripMargin

  /** The stored-batch split of the served-index fixtures, in SQL: the
    * stable md5 10% bucket is "the arriving batch", the rest "the
    * indexed corpus" ([[IndexFixtures.batchPred]]'s mirror). */
  private val servedBatchSqlPred =
    "CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 18, 15)) AS UBIGINT) AS BIGINT) % 100 < 10"

  /** The served-dedup-index oracle: signatures for all docs (`mins` /
    * `sigs` from the minhash CTEs), corpus side bucket-capped over the
    * CORPUS rows only (the stored posting-list cap
    * [[DedupIndexOps.servedDupes]] recounts at serve), candidates from
    * the band join, similarity = signature agreement · 10⁴ / K —
    * parameterized by the corpus predicate so the delete twin oracles
    * as the survivor corpus, and shared verbatim by the append twin
    * (per-doc signatures are row-independent, so build-then-append IS
    * the full build — the bm25_ingest convention). */
  private def servedIdxSql(corpusPred: String): String =
    servedIdxSqlB(corpusPred, servedBatchSqlPred)

  /** [[servedIdxSql]] with an independent BATCH predicate — the
    * serve-only twin caps its batch to a fixed id range (see
    * [[IndexFixtures.ServeOnlyIdCap]]). */
  private def servedIdxSqlB(corpusPred: String, batchPred: String): String =
    s"""WITH $postingsSql,
       |$minhashSigSql,
       |sigc AS (
       |  SELECT doc_id, band, sig FROM (
       |    SELECT s.doc_id, s.band, s.sig,
       |           COUNT(*) OVER (PARTITION BY s.band, s.sig) AS bsz
       |    FROM sigs s WHERE $corpusPred
       |  ) WHERE bsz <= ${DedupOps.MaxBandBucket}
       |),
       |sigb AS (SELECT doc_id, band, sig FROM sigs WHERE $batchPred),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS dup_of
       |  FROM sigb b JOIN sigc c ON b.band = c.band AND b.sig = c.sig
       |),
       |agreed AS (
       |  SELECT cand.doc_id, cand.dup_of,
       |         CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS agree
       |  FROM cand
       |  JOIN mins ma ON ma.doc_id = cand.dup_of
       |  JOIN mins mb ON mb.doc_id = cand.doc_id AND mb.k = ma.k
       |  GROUP BY cand.doc_id, cand.dup_of
       |)
       |SELECT doc_id, dup_of, agree * 10000 // ${DedupOps.MinhashK} AS est_e4
       |FROM agreed WHERE agree * 10000 // ${DedupOps.MinhashK} >= 5000""".stripMargin

  /** The gate-and-ingest report oracle: the served-index chain (index
    * dups) plus the batch self-join chain (within-batch dups, oriented
    * larger → smaller id, capped over BATCH rows), folded into one
    * verdict per batch doc with the index class winning and the best
    * match per class = (highest est, smallest dup_of). */
  private def gateSql: String =
    gateSqlFor("", "documents", s"NOT ($servedBatchSqlPred)", servedBatchSqlPred)

  /** The gate report body, parameterized: `prelude` injects extra CTEs
    * before the postings chain, `rel` is the document relation, and the
    * two predicates split it into the corpus (index) and batch sides —
    * shared by the standard gate oracle and the gate-only twin (which
    * unions a pass-suffixed, id-offset batch over the corpus). */
  private def gateSqlFor(prelude: String, rel: String,
      corpusPred: String, batchPred: String): String =
    s"""WITH $prelude${postingsSqlFrom(rel)},
       |$minhashSigSql,
       |sigc AS (
       |  SELECT doc_id, band, sig FROM (
       |    SELECT s.doc_id, s.band, s.sig,
       |           COUNT(*) OVER (PARTITION BY s.band, s.sig) AS bsz
       |    FROM sigs s WHERE $corpusPred
       |  ) WHERE bsz <= ${DedupOps.MaxBandBucket}
       |),
       |sigb AS (SELECT doc_id, band, sig FROM sigs WHERE $batchPred),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS dup_of
       |  FROM sigb b JOIN sigc c ON b.band = c.band AND b.sig = c.sig
       |),
       |agreed AS (
       |  SELECT cand.doc_id, cand.dup_of,
       |         CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS agree
       |  FROM cand
       |  JOIN mins ma ON ma.doc_id = cand.dup_of
       |  JOIN mins mb ON mb.doc_id = cand.doc_id AND mb.k = ma.k
       |  GROUP BY cand.doc_id, cand.dup_of
       |),
       |ibest AS (
       |  SELECT doc_id, dup_of AS i_dup, est_e4 AS i_est FROM (
       |    SELECT doc_id, dup_of, agree * 10000 // ${DedupOps.MinhashK} AS est_e4,
       |           ROW_NUMBER() OVER (PARTITION BY doc_id
       |             ORDER BY agree * 10000 // ${DedupOps.MinhashK} DESC, dup_of) AS rn
       |    FROM agreed WHERE agree * 10000 // ${DedupOps.MinhashK} >= 5000
       |  ) WHERE rn = 1
       |),
       |sigbc AS (
       |  SELECT doc_id, band, sig FROM (
       |    SELECT s.doc_id, s.band, s.sig,
       |           COUNT(*) OVER (PARTITION BY s.band, s.sig) AS bsz
       |    FROM sigs s WHERE $batchPred
       |  ) WHERE bsz <= ${DedupOps.MaxBandBucket}
       |),
       |bcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS dup_of
       |  FROM sigbc a JOIN sigbc b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id > b.doc_id
       |),
       |bagreed AS (
       |  SELECT bcand.doc_id, bcand.dup_of,
       |         CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS agree
       |  FROM bcand
       |  JOIN mins ma ON ma.doc_id = bcand.dup_of
       |  JOIN mins mb ON mb.doc_id = bcand.doc_id AND mb.k = ma.k
       |  GROUP BY bcand.doc_id, bcand.dup_of
       |),
       |bbest AS (
       |  SELECT doc_id, dup_of AS b_dup, est_e4 AS b_est FROM (
       |    SELECT doc_id, dup_of, agree * 10000 // ${DedupOps.MinhashK} AS est_e4,
       |           ROW_NUMBER() OVER (PARTITION BY doc_id
       |             ORDER BY agree * 10000 // ${DedupOps.MinhashK} DESC, dup_of) AS rn
       |    FROM bagreed WHERE agree * 10000 // ${DedupOps.MinhashK} >= 5000
       |  ) WHERE rn = 1
       |)
       |SELECT d.doc_id,
       |       CASE WHEN i.i_dup IS NOT NULL THEN 'dup_index'
       |            WHEN b.b_dup IS NOT NULL THEN 'dup_batch'
       |            WHEN sg.doc_id IS NULL THEN 'unsignable'
       |            ELSE 'ingested' END AS verdict,
       |       COALESCE(i.i_dup, b.b_dup) AS dup_of,
       |       COALESCE(i.i_est, b.b_est) AS est_e4
       |FROM (SELECT doc_id FROM $rel WHERE $batchPred) d
       |LEFT JOIN ibest i ON d.doc_id = i.doc_id
       |LEFT JOIN bbest b ON d.doc_id = b.doc_id
       |LEFT JOIN (SELECT DISTINCT doc_id FROM sh) sg ON d.doc_id = sg.doc_id""".stripMargin

  /** The gate-only oracle: the corpus plus the pass-1 batch — the capped
    * 10%-bucket slice with ids offset by
    * [[IndexFixtures.AppendIdBase]] and every token suffixed
    * `g1` — as one relation, gated by id range. Mirrors
    * [[IndexFixtures.dedupGateOnly]]'s first call in a JVM exactly (the
    * only call the Verify harness makes; later bench passes suffix g2,
    * g3, … and are timing-only). */
  private def gateOnlySql: String = gateOnlySqlFor("g1")

  /** [[gateOnlySql]] with the pass-1 token suffix parameterized — the
    * STREAMING twin suffixes `s1` so its batch content is disjoint from
    * the batch twin's (each family mutates its own prebuilt index). */
  private def gateOnlySqlFor(suffix: String): String = {
    val base = IndexFixtures.AppendIdBase
    val prelude =
      s"""docs2 AS (
         |  SELECT doc_id, text FROM documents WHERE NOT ($servedBatchSqlPred)
         |  UNION ALL
         |  SELECT doc_id + $base AS doc_id,
         |         regexp_replace(text, '(\\S+)', '\\1$suffix', 'g') AS text
         |  FROM documents
         |  WHERE ($servedBatchSqlPred) AND doc_id < ${IndexFixtures.ServeOnlyIdCap}
         |),
         |""".stripMargin
    gateSqlFor(prelude, "docs2", s"doc_id < $base", s"doc_id >= $base")
  }

  override def oracles: Map[String, String] = Map(
    "dedup_gate" -> gateSql,
    "dedup_served" -> servedIdxSql(s"NOT ($servedBatchSqlPred)"),
    // the serve-only twin: same stored-index serve, index prebuilt
    // outside the timer, batch capped to a FIXED id range so the scale
    // family measures a constant batch against a growing index
    "dedup_serve_only" -> servedIdxSqlB(s"NOT ($servedBatchSqlPred)",
      s"($servedBatchSqlPred) AND doc_id < ${IndexFixtures.ServeOnlyIdCap}"),
    // append-only: the returned frame is the sidecar read-back of the
    // appended batch — every id of the capped batch, exactly once
    "dedup_append_only" ->
      s"""SELECT doc_id FROM documents
         |WHERE ($servedBatchSqlPred) AND doc_id < ${IndexFixtures.ServeOnlyIdCap}""".stripMargin,
    "dedup_gate_only" -> gateOnlySql,
    // the streaming twin's trigger runs the same gate over the same
    // batch (suffix s1 instead of g1) — same oracle shape BY DESIGN
    "dedup_gate_stream" -> gateOnlySqlFor("s1"),
    // append ≡ rebuild: same oracle BY DESIGN (per-doc signatures are
    // row-independent — the bm25_ingest equality convention)
    "dedup_served_ing" -> servedIdxSql(s"NOT ($servedBatchSqlPred)"),
    "dedup_served_del" ->
      servedIdxSql(s"NOT ($servedBatchSqlPred) AND doc_id % 10 <> 3"),
    "dedup_exact" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |         md5(array_to_string((string_split(text, ' '))[1:5], ' ')) AS dup_key
        |  FROM documents
        |),
        |g AS (
        |  SELECT doc_id, dup_key,
        |         COUNT(*) OVER (PARTITION BY dup_key) AS group_sz,
        |         MIN(doc_id) OVER (PARTITION BY dup_key) AS canonical_id
        |  FROM keyed
        |)
        |SELECT doc_id, canonical_id, group_sz, doc_id = canonical_id AS is_canonical
        |FROM g WHERE group_sz > 1""".stripMargin,
    // chr(769) = U+0301 combining acute (decomposed), chr(233) = U+00E9
    // (precomposed): the planted twins differ in bytes, agree after NFC
    "dedup_exact_nfc" ->
      """WITH planted AS (
        |  SELECT doc_id * 2 AS doc_id, 'cafe' || chr(769) || ' ' || text AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id * 2 + 1 AS doc_id, 'caf' || chr(233) || ' ' || text AS text FROM documents
        |),
        |keyed AS (
        |  SELECT doc_id,
        |         md5(array_to_string((string_split(nfc_normalize(text), ' '))[1:5], ' ')) AS dup_key
        |  FROM planted
        |),
        |g AS (
        |  SELECT doc_id, dup_key,
        |         COUNT(*) OVER (PARTITION BY dup_key) AS group_sz,
        |         MIN(doc_id) OVER (PARTITION BY dup_key) AS canonical_id
        |  FROM keyed
        |)
        |SELECT doc_id, canonical_id, group_sz, doc_id = canonical_id AS is_canonical
        |FROM g WHERE group_sz > 1""".stripMargin,
    "incr_dedup" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |         md5(array_to_string((string_split(text, ' '))[1:5], ' ')) AS fp
        |  FROM documents
        |),
        |batch AS (
        |  SELECT doc_id, fp FROM keyed
        |  WHERE doc_id >= 25
        |    AND fp NOT IN (SELECT fp FROM keyed WHERE doc_id < 25)
        |),
        |r AS (
        |  SELECT doc_id, fp, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM batch
        |)
        |SELECT doc_id, fp FROM r WHERE rn = 1""".stripMargin,
    "dedup_jaccard" ->
      s"""WITH $postingsSql,
         |$cappedPostingsSql,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM shc a JOIN shc b ON a.x31 = b.x31 AND a.doc_id < b.doc_id
         |),
         |${jaccardSql("pairs", 8000L, "shc", "sizesc")}""".stripMargin,
    // the non-default cap knob oracled (maxDf = 64), the way
    // emb_near_dups_16p oracles the plane knob
    "dedup_jaccard64" ->
      s"""WITH $postingsSql,
         |${cappedPostingsSqlFor(64L)},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM shc a JOIN shc b ON a.x31 = b.x31 AND a.doc_id < b.doc_id
         |),
         |${jaccardSql("pairs", 8000L, "shc", "sizesc")}""".stripMargin,
    "dedup_sweep" ->
      s"""$sweepCumSql
         |SELECT bin_lo_e4, n_pairs, n_at_or_above FROM cum""".stripMargin,
    "sweep_threshold" -> sweepThresholdSql(100L),
    // the non-default pair budget oracled, the mixAllocSql(pct) pattern
    "sweep_threshold25" -> sweepThresholdSql(25L),
    // containment = inter / min(|a|,|b|) over the same capped space and
    // pair set as dedup_jaccard — only the denominator differs
    "dedup_containment" ->
      s"""WITH $postingsSql,
         |$cappedPostingsSql,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM shc a JOIN shc b ON a.x31 = b.x31 AND a.doc_id < b.doc_id
         |),
         |inter AS (
         |  SELECT p.da, p.db, COUNT(*) AS inter
         |  FROM pairs p
         |  JOIN shc a ON a.doc_id = p.da
         |  JOIN shc b ON b.doc_id = p.db AND a.x31 = b.x31
         |  GROUP BY p.da, p.db
         |)
         |SELECT i.da, i.db,
         |       CAST(FLOOR((i.inter / CAST(LEAST(sa.n_shingles, sb.n_shingles) AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS containment_e4
         |FROM inter i
         |JOIN sizesc sa ON i.da = sa.doc_id
         |JOIN sizesc sb ON i.db = sb.doc_id
         |WHERE (i.inter / CAST(LEAST(sa.n_shingles, sb.n_shingles) AS DOUBLE)) * 10000 + 0.5 >= 8000""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $postingsSql,
         |$minhashSigSql,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM sigf a JOIN sigf b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |),
         |${jaccardSql("pairs", 5000L)}""".stripMargin,
    "dedup_minhash24" ->
      s"""WITH $postingsSql,
         |${minhashSigSqlFor(24, 3)},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM sigf a JOIN sigf b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |),
         |${jaccardSql("pairs", 5000L)}""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $simhashBandSql,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS da, b2.doc_id AS db, a.simhash AS sa, b2.simhash AS sb
         |  FROM bf a JOIN bf b2
         |    ON a.b = b2.b AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id
         |)
         |SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         |FROM pairs WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin,
    "source_overlap" ->
      s"""WITH $simhashBandSql,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS da, b2.doc_id AS db, a.simhash AS sa, b2.simhash AS sb
         |  FROM bf a JOIN bf b2
         |    ON a.b = b2.b AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id
         |),
         |nd AS (SELECT da, db FROM pairs WHERE bit_count(xor(sa, sb)) <= 3),
         |lbl AS (
         |  SELECT least(s1.source, s2.source) AS source_a,
         |         greatest(s1.source, s2.source) AS source_b
         |  FROM nd JOIN documents s1 ON nd.da = s1.doc_id
         |          JOIN documents s2 ON nd.db = s2.doc_id
         |),
         |mat AS (
         |  SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM lbl GROUP BY source_a, source_b
         |),
         |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source)
         |SELECT m.source_a, m.source_b, m.n_pairs, sa.n AS na, sb.n AS nb,
         |       CAST(FLOOR(m.n_pairs /
         |         (CASE WHEN m.source_a = m.source_b THEN sa.n * (sa.n - 1) / 2.0
         |               ELSE CAST(sa.n AS DOUBLE) * sb.n END) * 1000000000 + 0.5) AS BIGINT) AS rate_e9
         |FROM mat m JOIN sz sa ON m.source_a = sa.source
         |           JOIN sz sb ON m.source_b = sb.source""".stripMargin,
    "incr_neardup" ->
      s"""WITH $simhashBandSql,
         |pairs AS (
         |  SELECT DISTINCT nw.doc_id AS doc_id, old.doc_id AS dup_of, nw.simhash AS sa, old.simhash AS sb
         |  FROM bf nw JOIN bf old
         |    ON nw.b = old.b AND nw.band_val = old.band_val
         |   AND nw.doc_id >= $IncrNearDupWatermark AND old.doc_id < $IncrNearDupWatermark
         |)
         |SELECT doc_id, dup_of, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         |FROM pairs WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin,
    // longest shared token span: 1-based positions vs Spark's 0-based is
    // irrelevant — diagonals and run lengths are shift-invariant
    "longest_span" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |shp AS (
        |  SELECT doc_id, i AS pa,
        |         CAST(CAST(('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 18, 15)) AS UBIGINT)
        |              % 2147483647 AS BIGINT) AS x31
        |  FROM toks, range(1, ${OracleLimits.MaxDocTokens}) r(i)
        |  WHERE i + 2 <= len(t)
        |),
        |sh AS (SELECT DISTINCT doc_id, x31 FROM shp),
        |shc AS (
        |  SELECT doc_id, x31 FROM (
        |    SELECT doc_id, x31, COUNT(*) OVER (PARTITION BY x31) AS df FROM sh
        |  ) WHERE df <= ${DedupOps.MaxShingleDf}
        |),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shc GROUP BY doc_id),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM shc a JOIN shc b ON a.x31 = b.x31 AND a.doc_id < b.doc_id
        |),
        |inter AS (
        |  SELECT c.da, c.db, COUNT(*) AS inter
        |  FROM cand c
        |  JOIN shc a ON a.doc_id = c.da
        |  JOIN shc b ON b.doc_id = c.db AND a.x31 = b.x31
        |  GROUP BY c.da, c.db
        |),
        |keep AS (
        |  SELECT i.da, i.db FROM inter i
        |  JOIN sizes sa ON i.da = sa.doc_id
        |  JOIN sizes sb ON i.db = sb.doc_id
        |  WHERE (i.inter / CAST(sa.n_shingles + sb.n_shingles - i.inter AS DOUBLE)) * 10000 + 0.5 >= 5000
        |),
        |m AS (
        |  SELECT DISTINCT k.da, k.db, a.pa, b.pa AS pb
        |  FROM keep k
        |  JOIN shp a ON a.doc_id = k.da
        |  JOIN shp b ON b.doc_id = k.db AND b.x31 = a.x31
        |),
        |r AS (
        |  SELECT da, db, pa - pb AS diag, pa,
        |         pa - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS grp
        |  FROM m
        |),
        |runs AS (SELECT da, db, COUNT(*) AS runlen FROM r GROUP BY da, db, diag, grp)
        |SELECT da, db, CAST(MAX(runlen) + 2 AS BIGINT) AS longest_tokens
        |FROM runs GROUP BY da, db""".stripMargin,
    // blocker pair-recall: each capped blocker's found set vs its brute
    // truth set; the truth sides are the eval baselines, the found sides
    // mirror the shipped operators' oracles exactly
    "neardup_recall" -> recallSql(""),
    // sampled mode: the same chain over the stable md5 sample
    // ([[RecallSamplePct]]%) —
    // shadow CTEs over main.* re-point every downstream reference
    "neardup_recall_s" -> recallSql(
      s"""documents AS (
         |  SELECT * FROM main.documents
         |  WHERE CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 18, 15)) AS UBIGINT) % 100 AS BIGINT) < $RecallSamplePct
         |),
         |embeddings AS (
         |  SELECT * FROM main.embeddings
         |  WHERE CAST(CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 18, 15)) AS UBIGINT) % 100 AS BIGINT) < $RecallSamplePct
         |),
         |""".stripMargin),
    // candidate-efficiency stats: the same banded/bucketed candidate
    // frames the shipped blockers verify, counted before and after
    // verification
    "blocker_precision" ->
      s"""WITH $simhashBandSql,
         |$minhashSigSql,
         |mcand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM sigf a JOIN sigf b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |),
         |minter AS (
         |  SELECT p.da, p.db, COUNT(*) AS inter
         |  FROM mcand p
         |  JOIN sh a ON a.doc_id = p.da
         |  JOIN sh b ON b.doc_id = p.db AND a.x31 = b.x31
         |  GROUP BY p.da, p.db
         |),
         |mver AS (
         |  SELECT i.da, i.db FROM minter i
         |  JOIN sizes sa ON i.da = sa.doc_id
         |  JOIN sizes sb ON i.db = sb.doc_id
         |  WHERE (i.inter / CAST(sa.n_shingles + sb.n_shingles - i.inter AS DOUBLE)) * 10000 + 0.5 >= 5000
         |),
         |scand AS (
         |  SELECT DISTINCT a.doc_id AS da, b2.doc_id AS db, a.simhash AS sa, b2.simhash AS sb
         |  FROM bf a JOIN bf b2
         |    ON a.b = b2.b AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id
         |),
         |sver AS (SELECT da, db FROM scand WHERE bit_count(xor(sa, sb)) <= 3),
         |${graft.operators.AnnPack.normSql},
         |${graft.operators.AnnPack.bucketSql},
         |bok AS (SELECT bucket FROM bk GROUP BY bucket HAVING COUNT(*) <= ${AnnOps.MaxEmbBucket}),
         |nb AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk ON n.vec_id = bk.vec_id
         |       JOIN bok ON bk.bucket = bok.bucket),
         |ecand AS (
         |  SELECT qa.vec_id AS va, ca.vec_id AS vb, CAST(${graft.operators.AnnPack.cosSql} AS BIGINT) AS cos
         |  FROM nb qa JOIN nb ca ON qa.bucket = ca.bucket AND qa.vec_id < ca.vec_id
         |),
         |ever AS (SELECT va, vb FROM ecand WHERE cos >= 4000),
         |counts(blocker, n_candidates, n_verified) AS (
         |  SELECT 'minhash', (SELECT COUNT(*) FROM mcand), (SELECT COUNT(*) FROM mver)
         |  UNION ALL
         |  SELECT 'simhash', (SELECT COUNT(*) FROM scand), (SELECT COUNT(*) FROM sver)
         |  UNION ALL
         |  SELECT 'embedding', (SELECT COUNT(*) FROM ecand), (SELECT COUNT(*) FROM ever)
         |)
         |SELECT blocker, CAST(n_candidates AS BIGINT) AS n_candidates,
         |       CAST(n_verified AS BIGINT) AS n_verified,
         |       CASE WHEN n_candidates = 0 THEN 10000
         |            ELSE CAST(FLOOR(n_verified / CAST(n_candidates AS DOUBLE) * 10000 + 0.5) AS BIGINT)
         |       END AS precision_e4
         |FROM counts""".stripMargin
  )

  /** Fixture sample percentage for the sampled recall harness: 40% puts
    * the brute truth joins at 16% of their exact pair cost (measured:
    * the bench's former heaviest query drops 7.9 → ~2.7 s at sf0.1; the
    * residual is the five blocker pipelines themselves, which a tighter
    * sample does not shrink — 30% measures the same) while keeping every
    * blocker's sampled truth set populated at the correctness
    * fixtures. */
  private[graft] val RecallSamplePct = 40

  /** The blocker-recall oracle: truth + found CTEs for all five blocker
    * rows; `sampleCtes` ("" = exact) prepends shadow CTEs that restrict
    * `documents`/`embeddings` to the deterministic md5 sample. */
  private def recallSql(sampleCtes: String): String =
      s"""WITH $sampleCtes$simhashBandSql,
         |$minhashSigSql,
         |tpairs AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.x31 = b.x31 AND a.doc_id < b.doc_id
         |),
         |tinter AS (
         |  SELECT p.da, p.db, COUNT(*) AS inter
         |  FROM tpairs p
         |  JOIN sh a ON a.doc_id = p.da
         |  JOIN sh b ON b.doc_id = p.db AND a.x31 = b.x31
         |  GROUP BY p.da, p.db
         |),
         |jtruth AS (
         |  SELECT i.da, i.db FROM tinter i
         |  JOIN sizes sa ON i.da = sa.doc_id
         |  JOIN sizes sb ON i.db = sb.doc_id
         |  WHERE (i.inter / CAST(sa.n_shingles + sb.n_shingles - i.inter AS DOUBLE)) * 10000 + 0.5 >= 5000
         |),
         |mpairs AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM sigf a JOIN sigf b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |),
         |mfound AS (SELECT p.da, p.db FROM mpairs p JOIN jtruth t ON p.da = t.da AND p.db = t.db),
         |struth AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |),
         |sfound0 AS (
         |  SELECT DISTINCT a.doc_id AS da, b2.doc_id AS db
         |  FROM bf a JOIN bf b2
         |    ON a.b = b2.b AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id
         |  WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3
         |),
         |sfound AS (SELECT p.da, p.db FROM sfound0 p JOIN struth t ON p.da = t.da AND p.db = t.db),
         |${graft.operators.AnnPack.normSql},
         |${graft.operators.AnnPack.bucketSql},
         |etruth AS (
         |  SELECT qa.vec_id AS da, ca.vec_id AS db
         |  FROM n qa JOIN n ca ON qa.vec_id < ca.vec_id
         |  WHERE ${graft.operators.AnnPack.cosSql} >= 4000
         |),
         |bok AS (SELECT bucket FROM bk GROUP BY bucket HAVING COUNT(*) <= ${AnnOps.MaxEmbBucket}),
         |nb AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk ON n.vec_id = bk.vec_id
         |       JOIN bok ON bk.bucket = bok.bucket),
         |efound0 AS (
         |  SELECT qa.vec_id AS da, ca.vec_id AS db
         |  FROM nb qa JOIN nb ca ON qa.bucket = ca.bucket AND qa.vec_id < ca.vec_id
         |  WHERE ${graft.operators.AnnPack.cosSql} >= 4000
         |),
         |efound AS (SELECT p.da, p.db FROM efound0 p JOIN etruth t ON p.da = t.da AND p.db = t.db),
         |mprobes AS (
         |  SELECT vec_id AS pvid,
         |         CASE WHEN j.j = ${AnnOps.NumPlanes} THEN bucket
         |              ELSE xor(bucket, CAST(POW(2, j.j) AS BIGINT)) END AS probe
         |  FROM nb, range(0, ${AnnOps.NumPlanes + 1}) j(j)
         |),
         |mpcand AS (
         |  SELECT p.pvid AS va, h.vec_id AS vb
         |  FROM mprobes p JOIN nb h ON p.probe = h.bucket AND p.pvid < h.vec_id
         |),
         |mpfound0 AS (
         |  SELECT c.va AS da, c.vb AS db
         |  FROM mpcand c JOIN nb qa ON qa.vec_id = c.va JOIN nb ca ON ca.vec_id = c.vb
         |  WHERE ${graft.operators.AnnPack.cosSql} >= 4000
         |),
         |mpfound AS (SELECT p.da, p.db FROM mpfound0 p JOIN etruth t ON p.da = t.da AND p.db = t.db),
         |mprobes2 AS (
         |  SELECT vec_id AS pvid, bucket AS probe FROM nb
         |  UNION ALL
         |  SELECT vec_id, xor(bucket, CAST(POW(2, j.j) AS BIGINT))
         |  FROM nb, range(0, ${AnnOps.NumPlanes}) j(j)
         |  UNION ALL
         |  SELECT vec_id, xor(bucket, CAST(POW(2, j.j) + POW(2, k.k) AS BIGINT))
         |  FROM nb, range(0, ${AnnOps.NumPlanes}) j(j), range(0, ${AnnOps.NumPlanes}) k(k)
         |  WHERE j.j < k.k
         |),
         |mp2cand AS (
         |  SELECT p.pvid AS va, h.vec_id AS vb
         |  FROM mprobes2 p JOIN nb h ON p.probe = h.bucket AND p.pvid < h.vec_id
         |),
         |mp2found0 AS (
         |  SELECT c.va AS da, c.vb AS db
         |  FROM mp2cand c JOIN nb qa ON qa.vec_id = c.va JOIN nb ca ON ca.vec_id = c.vb
         |  WHERE ${graft.operators.AnnPack.cosSql} >= 4000
         |),
         |mp2found AS (SELECT p.da, p.db FROM mp2found0 p JOIN etruth t ON p.da = t.da AND p.db = t.db),
         |counts(blocker, n_true, n_found) AS (
         |  SELECT 'minhash', (SELECT COUNT(*) FROM jtruth), (SELECT COUNT(*) FROM mfound)
         |  UNION ALL
         |  SELECT 'simhash', (SELECT COUNT(*) FROM struth), (SELECT COUNT(*) FROM sfound)
         |  UNION ALL
         |  SELECT 'embedding', (SELECT COUNT(*) FROM etruth), (SELECT COUNT(*) FROM efound)
         |  UNION ALL
         |  SELECT 'embedding_mp', (SELECT COUNT(*) FROM etruth), (SELECT COUNT(*) FROM mpfound)
         |  UNION ALL
         |  SELECT 'embedding_mp2', (SELECT COUNT(*) FROM etruth), (SELECT COUNT(*) FROM mp2found)
         |)
         |SELECT blocker, CAST(n_true AS BIGINT) AS n_true, CAST(n_found AS BIGINT) AS n_found,
         |       CASE WHEN n_true = 0 THEN 10000
         |            ELSE CAST(FLOOR(n_found / CAST(n_true AS DOUBLE) * 10000 + 0.5) AS BIGINT)
         |       END AS recall_e4
         |FROM counts""".stripMargin
}
