package graft.operators

import graft.QueryPack
import graft.contract.IndexFixtures
import graft.functions.TextFunctions._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval over the corpus: BM25 scoring against a small
  * query-term set, the inverted-index ranking primitive a training-data
  * pipeline uses for decontamination probes, targeted corpus audits, and
  * RAG-ish eval harnesses.
  *
  * Engine-exactness: the score keeps the [[TextRankOps.termRelevance]]
  * convention — a fixed double expression tree over exact integers, with
  * one documented deviation: idf is the raw Robertson ratio
  * `(N - df + 0.5) / (df + 0.5)` WITHOUT the log. The log would rank
  * identically term-by-term (it is monotone) but its cross-term SUM is
  * not order-free in floating point across engines; the raw ratio keeps
  * the whole tree a short, fixed-order chain mirrored literally in the
  * oracle. Per-doc summation over terms is pivoted into one column per
  * query term and added in QUERY ORDER (a fixed left fold, at most
  * [[MaxQueryTerms]] additions) — never a row-order-dependent SUM().
  *
  * Scale shape (100 TB): tokens are filtered to the query terms BEFORE
  * the tf groupBy, so the only full-corpus pass is a narrow
  * projection+filter — the shuffle carries just matching (doc, term)
  * rows, ~|terms| × docs-per-term, not the corpus. df/N/avgdl reduce to
  * a broadcast scalar frame. Top-k is the two-phase exact pattern
  * (per-partition prune to k, then one k·P-row final sort) — no global
  * sort of all scored docs.
  */
object RetrievalOps {

  /** Pivot-column budget: terms beyond this would widen the fixed-order
    * fold (and the oracle) past usefulness — a query box, not a corpus
    * limit. */
  val MaxQueryTerms = 8

  /** Fixture default: three frequent, distinct corpus terms. */
  val DefaultTerms: Seq[String] = Seq("join", "merge", "scan")

  private val K1: Column = lit(1.2)
  private val B: Column = lit(0.75)

  /** Doc length as a narrow map (no explode); read twice everywhere
    * (stats + score join), so materialize once. */
  private def docLengths(docs: DataFrame): DataFrame =
    graft.Caching.maybeCache(
      docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("len")))

  /** The BM25 per-(doc, term) score — ONE fixed double expression tree
    * over (tf, df, len, n_docs, total_len), shared by the literal-terms
    * and query-table operators so the calibration (and the oracle
    * mirror) can never fork between them. */
  private val bm25Score: Column = {
    val avgLen = col("total_len") * lit(1.0) / col("n_docs")
    ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * (K1 + lit(1.0))) /
      (col("tf") + K1 * (lit(1.0) - B + B * col("len") / avgLen))
  }

  /** (doc_id, token, s): tf joined with its df / doc length / corpus
    * stats and scored — the shared scaffolding above the two operators'
    * different aggregation shapes. */
  private def scoredPostings(tf: DataFrame, lens: DataFrame): DataFrame = {
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_len"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(df), "token")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("s", bm25Score)
  }

  /** BM25 top-k docs for `terms`: one row per ranked doc with the number
    * of matched terms and the e4-scaled score. */
  def bm25TopK(docs: DataFrame, terms: Seq[String] = DefaultTerms, k: Int = 10): DataFrame = {
    require(terms.nonEmpty && terms.size <= MaxQueryTerms,
      s"1..$MaxQueryTerms query terms, got ${terms.size}")
    require(terms.distinct.size == terms.size, s"duplicate query terms: $terms")
    val lens = docLengths(docs)
    // docs that can't match skip the explode entirely: the substring
    // pre-filter is a SUPERSET guard (contains("join") also admits
    // "joins", which the exact token filter then drops), so results are
    // unchanged while the per-token work runs only on candidate docs —
    // at 100 TB, for selective terms, that's the difference between
    // exploding the corpus and exploding the hit set
    val candidates = docs.filter(
      terms.map(t => col("text").contains(t)).reduce(_ || _))
    // the explode collapses to matching tokens BEFORE the shuffle: isin
    // is a codegen'd filter on the exploded stream
    val tf = graft.Caching.maybeCache(
      candidates.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .filter(col("token").isin(terms: _*))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
    rankFold(tf, lens, terms, k)
  }

  /** The shared tail of the literal-terms rankers: per-term scores →
    * fixed-order pivot fold → two-phase exact top-k. Extracted so
    * [[bm25IngestTopK]] (index-fed postings) and [[bm25TopK]] (text-fed
    * postings) rank through ONE code path and can never diverge. */
  private def rankFold(tf: DataFrame, lens: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val perTerm = scoredPostings(tf, lens)
    // fixed-order fold: one pivot column per term, added in query order
    val pivots = count(lit(1)).cast("int").as("n_terms") +:
      terms.zipWithIndex.map { case (t, i) =>
        max(when(col("token") === t, col("s"))).as(s"s_$i")
      }
    val total = terms.indices
      .map(i => coalesce(col(s"s_$i"), lit(0.0)))
      .reduceLeft(_ + _)
    val scored = perTerm
      .groupBy("doc_id")
      .agg(pivots.head, pivots.tail: _*)
      .select(col("doc_id"), col("n_terms"),
        floor(total * 10000 + 0.5).cast("long").as("score_e4"))
    // two-phase exact top-k: prune each partition to k before the single
    // k·P-row final ranking
    val perPart = Window.partitionBy(spark_partition_id())
      .orderBy(col("score_e4").desc, col("doc_id"))
    scored
      .withColumn("prnk", row_number().over(perPart))
      .filter(col("prnk") <= k)
      .drop("prnk")
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("score_e4").desc, col("doc_id"))))
      .filter(col("rnk") <= k)
  }

  /** Ingest-batch fraction for the fixture query: docs whose md5 bucket
    * falls below this arrive as the "new" batch. */
  val IngestPct = 20L

  /** The STORED inverted index for one corpus side: full-vocab postings
    * (doc_id, token, tf). At production scale this is built once for the
    * base corpus and persisted; each ingest batch appends its own
    * postings — base TEXT is never rescanned. Doc lengths are derivable
    * from it (Σ tf per doc), so the index alone is sufficient for
    * scoring.
    *
    * `spread` gates the scan fan-out ([[Par.spread]]) and must be FALSE
    * on per-batch / delta paths: an ingest batch (hundreds of rows) pays
    * a round-robin exchange plus a planning probe that dwarf its
    * tokenize — the r13 driver bench measured the whole bm25 family
    * 20-65% slower with the spread unconditional. Only the full-corpus
    * build ([[bm25WriteIndex]]) keeps it. */
  def bm25Index(docs: DataFrame, spread: Boolean = false): DataFrame =
    (if (spread) Par.spread(docs) else docs)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  /** Incremental BM25 — the index-MAINTENANCE shape: the corpus is split
    * into a base side (the stored index) and an ingest batch (md5 bucket
    * < `ingestPct`, the [[CurationOps.splitAssign]] convention); scoring
    * runs over base postings ∪ delta postings with df / doc-count /
    * avg-length stats MERGED from the two sides, never recomputed from
    * base text. Returns exactly [[bm25TopK]]'s answer for every split
    * (df(term) and the corpus scalars are disjoint-union additive —
    * property-tested across split fractions), which is what makes
    * daily-ingest index maintenance sound: re-index the delta, add the
    * censuses.
    *
    * Scale shape (100 TB): the only full scan is the base INDEX (narrow
    * (doc, token, tf) rows pruned to the query terms by a codegen'd
    * filter), not base text; the delta explode is |batch|-sized. Lengths
    * come from Σ tf per doc on each side — one map-side-combinable
    * aggregation per side, reusing the index's doc_id grouping. */
  def bm25IngestTopK(
      docs: DataFrame, ingestPct: Long = IngestPct,
      terms: Seq[String] = DefaultTerms, k: Int = 10): DataFrame = {
    require(terms.nonEmpty && terms.size <= MaxQueryTerms,
      s"1..$MaxQueryTerms query terms, got ${terms.size}")
    val bucket = stableHash60(col("doc_id").cast("string")) % 100L
    // cached: the stored base index — read twice (postings + lengths)
    val baseIdx = graft.Caching.maybeCache(bm25Index(docs.filter(bucket >= ingestPct)))
    val deltaIdx = graft.Caching.maybeCache(bm25Index(docs.filter(bucket < ingestPct)))
    val postings = baseIdx.unionByName(deltaIdx)
    val lens = postings.groupBy("doc_id").agg(sum(col("tf")).as("len"))
    rankFold(postings.filter(col("token").isin(terms: _*)), lens, terms, k)
  }
  /** Write the inverted index through the bulk seam — the text side's
    * [[graft.operators.AnnIndexOps.writeIndex]] twin: full-vocab
    * postings plus the derived doc-length table (at 100 TB the lengths
    * are index metadata you store once, not a per-query Σ tf re-roll of
    * the full postings). A fresh build starts with
    * [[IndexLifecycle.beginBuild]]. */
  def bm25WriteIndex(docs: DataFrame, dir: String): Unit = {
    IndexLifecycle.beginBuild(docs.sparkSession, dir)
    val idx = graft.Caching.maybeCache(bm25Index(docs, spread = true))
    val lens = graft.Caching.maybeCache(
      idx.groupBy("doc_id").agg(sum(col("tf")).as("len")))
    graft.sources.BulkOps.writePath(lens, org.apache.spark.sql.SaveMode.Overwrite)
      .save(s"$dir/lens")
    graft.sources.BulkOps.writePath(idx, org.apache.spark.sql.SaveMode.Overwrite)
      .save(s"$dir/postings")
    // the membership sidecar ([[IndexLifecycle]]): every indexed doc_id,
    // the append-idempotence guard's pruned probe target. A doc with NO
    // tokens has no postings or length row but still commits — the index
    // is the authority on ids, so its redelivery skips instead of
    // retrying forever.
    IndexLifecycle.writeIds(docs.sparkSession, dir, "doc_id",
      docs.select("doc_id"), docs.count())
  }

  /** Serve BM25 from the STORED index: postings pruned to the query
    * terms by a PUSHED filter (the scan ships |terms| posting lists, not
    * the index), lengths and corpus stats from the stored length table —
    * corpus TEXT is never touched at serve time. Identical scoring path
    * as [[bm25TopK]] ([[rankFold]]), so the answer is bit-identical —
    * that equality is the `bm25_served` oracle claim, exactly the
    * [[bm25IngestTopK]] convention. */
  def bm25ServedTopK(spark: SparkSession, dir: String,
      terms: Seq[String] = DefaultTerms, k: Int = 10): DataFrame = {
    require(terms.nonEmpty && terms.size <= MaxQueryTerms,
      s"1..$MaxQueryTerms query terms, got ${terms.size}")
    val postings0 = IndexLifecycle.servingHandle(spark, dir, "postings")
      .filter(col("token").isin(terms: _*))
    val lens0 = IndexLifecycle.servingHandle(spark, dir, "lens")
    // tombstone mask ([[bm25DeleteDocs]] log, if any) on BOTH tables:
    // df, n_docs and avgdl all recompute from the masked frames at serve
    // time, so the masked serve is EXACTLY the survivor-corpus answer —
    // not a stale-stats approximation
    val (postings, lens) = bm25TombstonesOpt(spark, dir) match {
      case None => (postings0, lens0)
      case Some(t) => (
        postings0.join(broadcast(t), Seq("doc_id"), "left_anti"),
        lens0.join(broadcast(t), Seq("doc_id"), "left_anti"))
    }
    rankFold(postings, lens, terms, k)
  }

  /** Ingest INTO the stored BM25 index: the batch's postings and
    * lengths APPEND to the stored tables. df / n_docs / avgdl recompute
    * from the union at serve time ([[bm25ServedTopK]] reads whole
    * tables), so the appended index serves EXACTLY what an index
    * written over the union serves — [[bm25IngestTopK]]'s
    * disjoint-union additivity made durable (and the oracle claim of
    * `bm25_ing_served`). IDEMPOTENT under redelivery and crash-safe
    * under torn writes via the [[graft.operators.IndexLifecycle]]
    * protocol: the steady-state guard is one ib-pruned sidecar probe
    * (replacing the former per-batch full-table distinct reads of
    * postings AND lens — O(index) I/O per ingest batch); after a crash,
    * the suspect ids — and only those — check each table, so the table
    * that landed skips and the table that didn't catches up without
    * doubling tf rows. `lens` writes BEFORE `postings`: the only
    * observable torn state is a doc with a length but no postings,
    * which perturbs only the corpus scalars it honestly belongs to —
    * the reverse order would inflate a term's df with a doc the length
    * join cannot score. */
  def bm25AppendDocs(spark: SparkSession, dir: String, newDocs: DataFrame,
      knownIds: Option[Seq[Long]] = None): Unit = {
    import graft.sources.BulkOps
    // one delta index feeds both appends (cached; each write filters to
    // the protocol's fresh-id frame); its cache entry ends with them
    graft.Caching.withCached(bm25Index(newDocs)) { idx =>
      // direct single-directory appends, NOT delta segments: both tables
      // are unpartitioned, so there is no per-directory write fan-out
      // for a delta to avoid
      val tables = Seq(
        IndexLifecycle.GuardedTable("lens", lit(true), fresh =>
          BulkOps.writePath(
              idx.join(broadcast(fresh), Seq("doc_id"), "left_semi")
                .groupBy("doc_id").agg(sum(col("tf")).as("len")),
              org.apache.spark.sql.SaveMode.Append)
            .save(s"$dir/lens"),
          mutates = Seq("lens")),
        IndexLifecycle.GuardedTable("postings", lit(true), fresh =>
          BulkOps.writePath(
              idx.join(broadcast(fresh), Seq("doc_id"), "left_semi"),
              org.apache.spark.sql.SaveMode.Append)
            .save(s"$dir/postings"),
          mutates = Seq("postings")))
      knownIds match {
        case Some(ids) => IndexLifecycle.appendGuardedSeq(spark, dir, "doc_id", ids, tables)
        case None =>
          IndexLifecycle.appendGuarded(spark, dir, "doc_id", newDocs.select("doc_id"), tables)
      }
    }
  }

  /** Delete documents from the stored BM25 index — the same
    * tombstone-then-compact lifecycle as
    * [[AnnIndexOps.deleteFromIndex]]: O(|ids|) append, serve-time mask,
    * physical drop at [[bm25CompactIndex]]. */
  def bm25DeleteDocs(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    graft.sources.BulkOps.writePath(
        ids.select(col("doc_id").cast("long")),
        org.apache.spark.sql.SaveMode.Append)
      .save(s"$dir/tombstones")

  private def bm25TombstonesOpt(spark: SparkSession, dir: String): Option[DataFrame] =
    // file-based (a fold consumes exactly its journaled tombstone FILES,
    // which can leave a file-less dir), read on the driver at the fixed
    // log schema
    IndexLifecycle.flatLogOpt(spark, dir, "tombstones", "doc_id")

  /** Major compaction of the BM25 index: rewrite postings, lens and the
    * ids sidecar minus the tombstoned docs (written beside, swapped by
    * checked rename — [[IndexLifecycle.compactTables]]), clear the log.
    * Serve results identical before and after — the mask and the drop
    * remove the same rows. Returns false on no-op. */
  def bm25CompactIndex(spark: SparkSession, dir: String): Boolean =
    IndexLifecycle.compactTables(spark, dir, "doc_id",
      Seq(("postings", Nil, (df: DataFrame) => df), ("lens", Nil, (df: DataFrame) => df)))

  /** Query-table-driven BM25 — the decontamination-probe shape: a
    * benchmark's THOUSANDS of queries arrive as a (query_id, term) TABLE
    * and every query is scored per doc in one group-by, where
    * [[bm25TopK]]'s pivot-column fold stops at [[MaxQueryTerms]]
    * literals. Returns top-`k` docs per query with the matched-term
    * count.
    *
    * Engine-exactness: the per-(doc, term) BM25 score is the same fixed
    * double tree as [[bm25TopK]], but each term's score is rounded to a
    * scaled int (e4) BEFORE the per-query summation — an integer sum is
    * reduction-order-free, which is what makes an arbitrary-width query
    * table exact across engines (documented deviation: ≤ 0.5e-4 rounding
    * per matched term vs the fixed-order double fold).
    *
    * Scale shape (100 TB): the corpus explode is filtered by a broadcast
    * semi-join against the DISTINCT term set BELOW the tf shuffle (the
    * table-input analogue of the literal isin filter — plan-gated), so
    * the shuffle carries only matching (doc, term) postings. The query
    * table joins the scored postings by term (broadcast: query tables
    * are bounded), and the final top-k window is partitioned by
    * query_id — no global sort anywhere. */
  def bm25TopKForQueries(docs: DataFrame, queries: DataFrame, k: Int = 3): DataFrame = {
    val qterms = queries.select(col("query_id"), col("term")).distinct()
    val terms = qterms.select("term").distinct()
    val lens = docLengths(docs)
    // the semi-join collapses the exploded stream to query-term postings
    // before any shuffle — the table-input twin of bm25TopK's isin filter
    val tf = graft.Caching.maybeCache(
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .join(broadcast(terms), col("token") === col("term"), "left_semi")
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
    val perTerm = scoredPostings(tf, lens)
      .select(col("doc_id"), col("token"),
        floor(col("s") * 10000 + 0.5).cast("long").as("s_e4"))
    val scored = perTerm
      .join(broadcast(qterms), col("token") === col("term"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("int").as("n_terms"), sum(col("s_e4")).as("score_e4"))
    val w = Window.partitionBy("query_id").orderBy(col("score_e4").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Deterministic fixture query table for [[bm25TopKForQueries]]'
    * oracle: `nQueries` queries of `termsPerQuery` terms each, drawn from
    * the document-frequency-ranked vocabulary and dealt round-robin so
    * every query mixes a common and a rarer term. (A FIXTURE builder —
    * the vocab ranking is a global sort of the vocab census; production
    * callers bring their own benchmark query table.) */
  def benchmarkQueries(docs: DataFrame, nQueries: Int = 50, termsPerQuery: Int = 2): DataFrame = {
    val dfv = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    dfv
      .withColumn("rnk", row_number().over(Window.orderBy(col("df").desc, col("term"))))
      .filter(col("rnk") <= nQueries * termsPerQuery)
      .select(((col("rnk") - 1) % nQueries).cast("long").as("query_id"), col("term"))
  }

  /** Fixture default phrase (two frequent, co-occurring corpus tokens). */
  val DefaultPhrase: Seq[String] = Seq("merge", "sort")

  /** Exact phrase search: docs containing `phrase` as consecutive
    * tokens, with occurrence count and first position (0-based).
    *
    * Scale shape: the substring pre-filter (`contains` of the joined
    * phrase — a superset, since the match could straddle larger tokens)
    * keeps non-candidate docs out of the positional explode entirely;
    * the lead-window match then runs per candidate doc with no shuffle
    * beyond the per-doc window. The positional-index twin of
    * [[DedupOps.pairLongestSpan]]'s trigram diagonal. */
  def phraseHits(docs: DataFrame, phrase: Seq[String] = DefaultPhrase): DataFrame = {
    require(phrase.size >= 2 && phrase.size <= 5, s"2..5 phrase tokens, got ${phrase.size}")
    val candidates = docs.filter(col("text").contains(phrase.mkString(" ")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = candidates.select(
      col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val withLeads = (1 until phrase.size).foldLeft(toks) { (df, i) =>
      df.withColumn(s"t$i", lead("tok", i).over(w))
    }
    val cond = phrase.zipWithIndex
      .map { case (p, i) => (if (i == 0) col("tok") else col(s"t$i")) === lit(p) }
      .reduce(_ && _)
    withLeads.filter(cond)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
  }

  /** Reciprocal-rank fusion of the lexical (BM25) and semantic (cosine
    * top-k for query vector 0) rankings — the standard hybrid-retrieval
    * combiner: rrf(d) = Σ 1/(60 + rank_i(d)), absent rankings contribute
    * 0. The fixture treats vec_id as the doc's embedding id (doc_id ≡
    * vec_id). Engine-exact: each term is one double division in a fixed
    * two-term fold, scaled e6.
    *
    * Scale shape: both inputs are already top-n prunes (k·P rows), so
    * the fusion is a full-outer join of two TINY frames plus one final
    * k-row rank — the corpus never reappears. */
  def rrfFusion(docs: DataFrame, embeddings: DataFrame, k: Int = 10): DataFrame = {
    val lex = bm25TopK(docs, DefaultTerms, k = 20)
      .select(col("doc_id"), col("rnk").as("r_lex"))
    val sem = AnnOps.bruteTopK(embeddings, nQueries = 1, k = 20)
      .select(col("vec_id").as("doc_id"), col("rnk").as("r_sem"))
    val rrf =
      coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_e6", floor(rrf * 1000000 + 0.5).cast("long"))
      .withColumn("r_lex", coalesce(col("r_lex"), lit(0)))
      .withColumn("r_sem", coalesce(col("r_sem"), lit(0)))
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("rrf_e6").desc, col("doc_id"))))
      .filter(col("rnk") <= k)
      .select("doc_id", "r_lex", "r_sem", "rrf_e6", "rnk")
  }
}

object RetrievalPack extends QueryPack {
  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bm25_topk" -> ((s, d) => RetrievalOps.bm25TopK(Tables.documents(s, d))),
    "bm25_multi" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the fixture query TABLE is 100 rows but its construction is a
      // corpus-scale vocab census — materialize it once per corpus
      // (cache lifecycle) instead of re-censusing per reference/pass
      RetrievalOps.bm25TopKForQueries(docs,
        graft.Caching.maybeCache(RetrievalOps.benchmarkQueries(docs)))
    }),
    "bm25_ingest" -> ((s, d) => RetrievalOps.bm25IngestTopK(Tables.documents(s, d))),
    "bm25_served" -> ((s, d) => IndexFixtures.served(IndexFixtures.Bm25, s, d)),
    "bm25_serve_only" -> ((s, d) => IndexFixtures.serveOnly(IndexFixtures.Bm25, s, d)),
    "bm25_ing_served" -> ((s, d) => IndexFixtures.ingest(IndexFixtures.Bm25, s, d)),
    "bm25_append_only" -> ((s, d) => IndexFixtures.appendOnly(IndexFixtures.Bm25, s, d)),
    "bm25_deleted" -> ((s, d) => IndexFixtures.deleted(IndexFixtures.Bm25, s, d)),
    "phrase_hits" -> ((s, d) => RetrievalOps.phraseHits(Tables.documents(s, d))),
    "rrf_fusion" -> ((s, d) =>
      RetrievalOps.rrfFusion(Tables.documents(s, d), Tables.embeddings(s, d)))
  )

  /** BM25 CTE chain ending in `ranked` — shared by the bm25_topk and
    * rrf_fusion oracles. DOUBLE casts keep DuckDB from computing the
    * constants in DECIMAL; the score tree mirrors the Spark expression
    * literally. */
  // `docPred` restricts the corpus (the deletion oracle: survivor docs
  // only, so df and the corpus scalars reflect the deletions exactly)
  private def bm25CtesP(docPred: String): String =
    s"""lens AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      |  FROM documents WHERE $docPred
      |),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM lens),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |         FROM documents WHERE $docPred),
      |tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM toks
      |  WHERE token IN ('join', 'merge', 'scan')
      |  GROUP BY doc_id, token
      |),
      |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      |st AS (
      |  SELECT tf.doc_id, tf.token,
      |         ((s.n_docs - df.df + CAST(0.5 AS DOUBLE)) / (df.df + CAST(0.5 AS DOUBLE)))
      |         * (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
      |         / (tf.tf + CAST(1.2 AS DOUBLE) *
      |            (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |             + CAST(0.75 AS DOUBLE) * l.len
      |               / (s.total_len * CAST(1.0 AS DOUBLE) / s.n_docs))) AS s
      |  FROM tf
      |  JOIN df ON tf.token = df.token
      |  JOIN lens l ON tf.doc_id = l.doc_id
      |  CROSS JOIN stats s
      |),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms,
      |         MAX(CASE WHEN token = 'join' THEN s END) AS s_0,
      |         MAX(CASE WHEN token = 'merge' THEN s END) AS s_1,
      |         MAX(CASE WHEN token = 'scan' THEN s END) AS s_2
      |  FROM st GROUP BY doc_id
      |),
      |scored AS (
      |  SELECT doc_id, n_terms,
      |         CAST(FLOOR((COALESCE(s_0, CAST(0.0 AS DOUBLE))
      |                     + COALESCE(s_1, CAST(0.0 AS DOUBLE))
      |                     + COALESCE(s_2, CAST(0.0 AS DOUBLE))) * 10000 + 0.5) AS BIGINT) AS score_e4
      |  FROM agg
      |),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY score_e4 DESC, doc_id) AS rnk FROM scored
      |)""".stripMargin

  private val bm25Ctes: String = bm25CtesP("TRUE")

  override def oracles: Map[String, String] = Map(
    "bm25_topk" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_terms, score_e4, rnk FROM ranked WHERE rnk <= 10""".stripMargin,
    // incremental ingest returns EXACTLY the batch answer (disjoint-union
    // additivity of df and the corpus scalars), so its oracle IS the
    // batch chain — the equality is the correctness claim
    "bm25_ingest" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_terms, score_e4, rnk FROM ranked WHERE rnk <= 10""".stripMargin,
    // served-from-stored-index must return the batch chain's answer
    // bit-for-bit — same oracle BY DESIGN (the bm25_ingest convention)
    "bm25_served" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_terms, score_e4, rnk FROM ranked WHERE rnk <= 10""".stripMargin,
    // the serve-only twin answers identically (same stored-index serve,
    // index prebuilt outside the timer) — same oracle BY DESIGN
    "bm25_serve_only" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_terms, score_e4, rnk FROM ranked WHERE rnk <= 10""".stripMargin,
    // append-into-the-stored-index serves the full-corpus answer
    // bit-for-bit (postings and lengths are disjoint-union additive;
    // stats recompute from the union tables) — same oracle BY DESIGN
    "bm25_ing_served" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_terms, score_e4, rnk FROM ranked WHERE rnk <= 10""".stripMargin,
    // append-only: the returned frame is the sidecar read-back of the
    // appended batch — every id of the fixed ~200-doc batch, once
    "bm25_append_only" -> "SELECT doc_id FROM documents WHERE doc_id < 200",
    // deletion serves the SURVIVOR corpus exactly — df, n_docs and avgdl
    // all recompute from the masked tables, so the oracle is the batch
    // chain over the corpus minus the tombstoned band
    "bm25_deleted" ->
      s"""WITH ${bm25CtesP("doc_id % 10 <> 3")}
         |SELECT doc_id, n_terms, score_e4, rnk FROM ranked WHERE rnk <= 10""".stripMargin,
    // query-table BM25: 50 fixture queries dealt round-robin from the
    // df-ranked vocab; per-term e4 rounding BEFORE the per-query integer
    // sum mirrors the Spark side exactly
    "bm25_multi" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |dfv AS (
        |  SELECT token, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token
        |),
        |vr AS (SELECT token, ROW_NUMBER() OVER (ORDER BY df DESC, token) AS rnk FROM dfv),
        |qt AS (SELECT CAST((rnk - 1) % 50 AS BIGINT) AS query_id, token AS term
        |       FROM vr WHERE rnk <= 100),
        |lens AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents
        |),
        |stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM lens),
        |tf AS (
        |  SELECT t.doc_id, t.token, COUNT(*) AS tf FROM toks t
        |  WHERE t.token IN (SELECT term FROM qt)
        |  GROUP BY t.doc_id, t.token
        |),
        |dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |st AS (
        |  SELECT tf.doc_id, tf.token,
        |         ((s.n_docs - d.df + CAST(0.5 AS DOUBLE)) / (d.df + CAST(0.5 AS DOUBLE)))
        |         * (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |         / (tf.tf + CAST(1.2 AS DOUBLE) *
        |            (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |             + CAST(0.75 AS DOUBLE) * l.len
        |               / (s.total_len * CAST(1.0 AS DOUBLE) / s.n_docs))) AS sc
        |  FROM tf
        |  JOIN dfq d ON tf.token = d.token
        |  JOIN lens l ON tf.doc_id = l.doc_id
        |  CROSS JOIN stats s
        |),
        |pt AS (
        |  SELECT doc_id, token, CAST(FLOOR(sc * 10000 + 0.5) AS BIGINT) AS s_e4 FROM st
        |),
        |agg AS (
        |  SELECT q.query_id, p.doc_id, CAST(COUNT(*) AS INT) AS n_terms,
        |         CAST(SUM(p.s_e4) AS BIGINT) AS score_e4
        |  FROM pt p JOIN qt q ON p.token = q.term
        |  GROUP BY q.query_id, p.doc_id
        |),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |                               ORDER BY score_e4 DESC, doc_id) AS rnk
        |  FROM agg
        |)
        |SELECT query_id, doc_id, n_terms, score_e4, rnk FROM ranked WHERE rnk <= 3""".stripMargin,
    "phrase_hits" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits, CAST(MIN(i - 1) AS INT) AS first_pos
         |FROM toks, range(1, ${OracleLimits.MaxDocTokens}) r(i)
         |WHERE i + 1 <= len(t) AND t[i] = 'merge' AND t[i+1] = 'sort'
         |GROUP BY doc_id""".stripMargin,
    "rrf_fusion" ->
      s"""WITH $bm25Ctes,
         |lex AS (SELECT doc_id, rnk AS r_lex FROM ranked WHERE rnk <= 20),
         |${AnnPack.normSql},
         |semscored AS (
         |  SELECT ca.vec_id AS doc_id,
         |         CAST(${AnnPack.cosSql} AS BIGINT) AS cosine_e4
         |  FROM n qa JOIN n ca ON ca.vec_id <> qa.vec_id
         |  WHERE qa.vec_id < 1
         |),
         |semranked AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine_e4 DESC, doc_id) AS r_sem
         |  FROM semscored
         |),
         |sem AS (SELECT doc_id, r_sem FROM semranked WHERE r_sem <= 20),
         |f AS (
         |  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem
         |  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
         |),
         |g AS (
         |  SELECT doc_id,
         |         CAST(FLOOR((COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_lex), CAST(0.0 AS DOUBLE))
         |                     + COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_sem), CAST(0.0 AS DOUBLE)))
         |                    * 1000000 + 0.5) AS BIGINT) AS rrf_e6,
         |         COALESCE(r_lex, 0) AS r_lex, COALESCE(r_sem, 0) AS r_sem
         |  FROM f
         |),
         |fr AS (
         |  SELECT doc_id, r_lex, r_sem, rrf_e6,
         |         ROW_NUMBER() OVER (ORDER BY rrf_e6 DESC, doc_id) AS rnk
         |  FROM g
         |)
         |SELECT doc_id, r_lex, r_sem, rrf_e6, rnk FROM fr WHERE rnk <= 10""".stripMargin
  )
}
