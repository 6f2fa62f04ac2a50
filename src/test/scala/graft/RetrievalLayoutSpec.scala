package graft

import java.nio.file.Files

import graft.contract.IndexFixtures
import graft.operators.{DataLayoutOps, RetrievalOps}
import graft.sources.Tables
import org.apache.spark.sql.functions._

class RetrievalLayoutSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf).cache()
  private lazy val lineitem = Tables.lineitem(spark, sf).cache()

  // reference morton implementation (plain Scala) for the property test
  private def spreadRef(x: Long): Long = {
    val a = x & 0xffffL
    val b = (a | (a << 8)) & 0x00ff00ffL
    val c = (b | (b << 4)) & 0x0f0f0f0fL
    val d = (c | (c << 2)) & 0x33333333L
    (d | (d << 1)) & 0x55555555L
  }
  private def mortonRef(a: Long, b: Long): Long = spreadRef(a) | (spreadRef(b) << 1)

  // 3-D reference by explicit bit placement — independent of the
  // magic-number spread, so it validates the masks
  private def morton3Ref(a: Long, b: Long, c: Long): Long =
    (0 until 21).foldLeft(0L) { (acc, i) =>
      acc |
        (((a >> i) & 1L) << (3 * i)) |
        (((b >> i) & 1L) << (3 * i + 1)) |
        (((c >> i) & 1L) << (3 * i + 2))
    }

  private lazy val sp = spark

  test("morton16 expression matches the reference interleave on random 16-bit pairs") {
    import sp.implicits._
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(1000)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)) ++
      Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L))
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), DataLayoutOps.morton16(col("a"), col("b")).as("z"))
      .collect()
    got.foreach(r => assert(r.getLong(2) == mortonRef(r.getLong(0), r.getLong(1)),
      s"morton(${r.getLong(0)}, ${r.getLong(1)})"))
  }

  test("morton16 is a bijection: distinct pairs get distinct codes") {
    import sp.implicits._
    val grid = for (a <- 0L until 32L; b <- 0L until 32L) yield (a * 977L % 65536L, b * 1013L % 65536L)
    val n = grid.distinct.size
    val codes = grid.distinct.toDF("a", "b")
      .select(DataLayoutOps.morton16(col("a"), col("b")).as("z"))
      .distinct().count()
    assert(codes == n)
  }

  test("morton21 expression matches the bit-placement reference on random 21-bit triples") {
    import sp.implicits._
    val rnd = new scala.util.Random(43)
    val max21 = 1 << 21
    val triples = Seq.fill(1000)(
      (rnd.nextInt(max21).toLong, rnd.nextInt(max21).toLong, rnd.nextInt(max21).toLong)) ++
      Seq((0L, 0L, 0L), (max21 - 1L, 0L, 0L), (0L, max21 - 1L, 0L),
        (0L, 0L, max21 - 1L), (max21 - 1L, max21 - 1L, max21 - 1L))
    val got = triples.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        DataLayoutOps.morton21(col("a"), col("b"), col("c")).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(3) == morton3Ref(r.getLong(0), r.getLong(1), r.getLong(2)),
        s"morton21(${r.getLong(0)}, ${r.getLong(1)}, ${r.getLong(2)})")
      assert(r.getLong(3) >= 0L, "63-bit code must stay non-negative")
    }
  }

  test("every 3-D z-bin bounds a small box of the key grid") {
    val bins = DataLayoutOps.zorderBins3d(lineitem).cache()
    val stats = lineitem.agg(
      (max("l_partkey") - min("l_partkey")).as("p_rng"),
      (max("l_suppkey") - min("l_suppkey")).as("s_rng"),
      (max("l_orderkey") - min("l_orderkey")).as("o_rng")).head()
    val (pRng, sRng, oRng) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    // a 9-bit bin is a 1/8 x 1/8 x 1/8 cell of the normalized grid;
    // allow +2 units of integer-normalization rounding per edge
    val bad = bins.filter(
      col("p_max") - col("p_min") > lit(pRng / 8 + 2) ||
        col("s_max") - col("s_min") > lit(sRng / 8 + 2) ||
        col("o_max") - col("o_min") > lit(oRng / 8 + 2)).count()
    assert(bad == 0, s"3-D z-bins wider than one grid cell: $bad")
    assert(bins.count() > 1)
    bins.unpersist()
  }

  test("every z-bin bounds a small rectangle of the key grid") {
    val bins = DataLayoutOps.zorderBins(lineitem).cache()
    val stats = lineitem.agg(
      (max("l_partkey") - min("l_partkey")).as("p_rng"),
      (max("l_suppkey") - min("l_suppkey")).as("s_rng")).head()
    val (pRng, sRng) = (stats.getLong(0), stats.getLong(1))
    // an 8-bit bin is a 1/16 x 1/16 cell of the normalized grid; allow
    // +2 units of integer-normalization rounding per edge
    val bad = bins.filter(
      col("p_max") - col("p_min") > lit(pRng / 16 + 2) ||
        col("s_max") - col("s_min") > lit(sRng / 16 + 2)).count()
    assert(bad == 0, s"z-bins wider than one grid cell: $bad")
    assert(bins.count() > 1)
    bins.unpersist()
  }

  test("z-ordered files cover far smaller key rectangles than hash-partitioned ones") {
    val dir = Files.createTempDirectory("graft-zorder").toFile.getAbsolutePath
    val n = DataLayoutOps.writeZordered(lineitem, "l_partkey", "l_suppkey", s"$dir/z", numFiles = 8)
    assert(n == lineitem.count(), "write verification: destination recount must match")
    lineitem.repartition(8).write.parquet(s"$dir/h")

    def meanArea(path: String): Double = {
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(
          (max("l_partkey") - min("l_partkey")).as("pw"),
          (max("l_suppkey") - min("l_suppkey")).as("sw"))
      perFile.agg(avg(col("pw") * col("sw"))).head().getDouble(0)
    }
    val (zArea, hArea) = (meanArea(s"$dir/z"), meanArea(s"$dir/h"))
    // hash files span ~the whole grid; z files must average well under half
    assert(zArea < hArea * 0.5, s"z-order clustering bought nothing: z=$zArea hash=$hArea")
  }

  test("bm25: matching more query terms can only help, and ranks are dense from 1") {
    val out = RetrievalOps.bm25TopK(docs, k = 20).cache()
    val ranks = out.select("rnk").collect().map(_.getInt(0)).sorted
    assert(ranks.sameElements(1 to ranks.length))
    // the top hit matches at least as many terms as the median hit
    val byRank = out.orderBy("rnk").select("n_terms", "score_e4").collect()
    assert(byRank.head.getLong(1) >= byRank.last.getLong(1))
    out.unpersist()
  }

  test("bm25 rejects term lists the fixed-order fold cannot honor") {
    intercept[IllegalArgumentException](RetrievalOps.bm25TopK(docs, terms = Seq.empty))
    intercept[IllegalArgumentException](RetrievalOps.bm25TopK(docs, terms = Seq("a", "a")))
    intercept[IllegalArgumentException](
      RetrievalOps.bm25TopK(docs, terms = (1 to 9).map("t" + _)))
  }

  test("approx profiler tracks the exact one within HLL tolerance, nulls exact") {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
    val exact = DataLayoutOps.profile(lineitem, cols)
      .select(col("column_name"), col("n_nulls").as("en"), col("n_distinct").as("ed"))
    val approx = DataLayoutOps.profileApprox(lineitem, cols)
      .select(col("column_name"), col("n_nulls").as("an"), col("n_distinct").as("ad"))
    val joined = exact.join(approx, "column_name").collect()
    assert(joined.length == cols.size)
    joined.foreach { r =>
      assert(r.getLong(1) == r.getLong(3), s"${r.getString(0)}: null counts must be exact")
      val (ed, ad) = (r.getLong(2).toDouble, r.getLong(4).toDouble)
      assert(math.abs(ad - ed) <= math.max(ed * 0.1, 4.0),
        s"${r.getString(0)}: approx distinct $ad too far from exact $ed")
    }
  }

  test("skew census: dense ranks, descending counts, exact pair arithmetic") {
    val events = Tables.events(spark, sf)
    val out = DataLayoutOps.skewCensus(events, "user_id").collect()
    assert(out.map(_.getInt(4)).sorted.sameElements(1 to out.length))
    val counts = out.sortBy(_.getInt(4)).map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "census not ordered by count desc")
    assert(out.forall(r => r.getLong(3) == r.getLong(1) * r.getLong(1)))
    val totalShare = out.map(_.getLong(2)).sum
    assert(totalShare <= 10000, s"top-k shares exceed the whole: $totalShare")
  }

  test("curriculum: ten deciles, ramped keep rate, bounded kept counts") {
    val out = graft.operators.CurationOps.qualityCurriculum(docs)
      .orderBy("decile").collect()
    assert(out.map(_.getLong(0)).sameElements(1L to 10L))
    assert(out.forall(r => r.getLong(2) <= r.getLong(1)), "kept > docs")
    // decile boundaries are consistent: q_max non-decreasing across deciles
    val qmax = out.map(_.getLong(4))
    assert(qmax.zip(qmax.tail).forall { case (a, b) => a <= b })
    // the ramp materializes: the top decile keeps everything (pri < 1000
    // always), the bottom decile keeps well under half
    assert(out.last.getLong(2) == out.last.getLong(1))
    assert(out.head.getLong(2) * 2 < out.head.getLong(1))
  }

  test("phrase search finds exact consecutive-token matches only") {
    import sp.implicits._
    val corpus = Seq(
      (1L, "a merge sort b merge sort c"), // 2 hits, first at pos 1
      (2L, "merge a sort"), // tokens present but not adjacent
      (3L, "sort merge"), // reversed
      (4L, "merge sort") // 1 hit at pos 0
    ).toDF("doc_id", "text")
    val out = graft.operators.RetrievalOps.phraseHits(corpus)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out == Map(1L -> ((2L, 1)), 4L -> ((1L, 0))))
    intercept[IllegalArgumentException](
      graft.operators.RetrievalOps.phraseHits(corpus, Seq("solo")))
  }

  test("rrf fusion: dense ranks, scores bounded by the two-list maximum") {
    val out = graft.operators.RetrievalOps
      .rrfFusion(docs, Tables.embeddings(spark, sf)).cache()
    val rows = out.orderBy("rnk").collect()
    assert(rows.map(_.getInt(4)).sameElements(1 to rows.length))
    // max possible score: rank 1 in both lists = 2/61
    val maxE6 = math.floor(2.0 / 61.0 * 1000000 + 0.5).toLong
    assert(rows.forall(_.getLong(3) <= maxE6))
    // a doc present in both lists must outrank one with a single worse entry
    assert(rows.map(_.getLong(3)).sliding(2).forall(p => p.head >= p.last))
    out.unpersist()
  }

  test("filtered ANN returns only vectors passing the metadata predicate") {
    val embs = Tables.embeddings(spark, sf)
    val out = graft.operators.AnnOps.filteredTopK(embs).cache()
    val offLabel = out.join(
      embs.select(col("vec_id"), col("label")), "vec_id")
      .filter(col("label") =!= 3)
    assert(offLabel.count() == 0)
    // per query: at most k results, ranks dense from 1
    val byQ = out.groupBy("qid").agg(count(lit(1)).as("n"), max("rnk").as("mx"))
    assert(byQ.filter(col("n") =!= col("mx") || col("n") > 5).count() == 0)
    out.unpersist()
  }

  test("bm25 score grows with tf at fixed length, falls with doc length at fixed tf") {
    import sp.implicits._
    val corpus = Seq(
      (1L, "join join join pad1 pad2 pad3"), // tf=3, len 6
      (2L, "join pad1 pad2 pad3 pad4 pad5"), // tf=1, len 6
      (3L, "join " + (1 to 40).map("x" + _).mkString(" ")) // tf=1, len 41
    ).toDF("doc_id", "text")
    val out = RetrievalOps.bm25TopK(corpus, terms = Seq("join"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) > out(2L), "higher tf must score higher at equal length")
    assert(out(2L) > out(3L), "longer doc must score lower at equal tf")
  }

  test("sort bounds: NTILE-balanced sample, monotone boundaries, full data covered") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val bounds = graft.operators.DataLayoutOps
      .sortBounds(li, "l_partkey", Seq("l_orderkey", "l_linenumber"))
      .collect().sortBy(_.getAs[Long]("bucket"))
    assert(bounds.length == 32)
    val uppers = bounds.map(_.getAs[Long]("upper_key"))
    assert(uppers.zip(uppers.tail).forall { case (a, b) => a <= b },
      s"boundaries must be non-decreasing: ${uppers.toSeq}")
    val sizes = bounds.map(_.getAs[Long]("n_sample"))
    assert(sizes.max - sizes.min <= 1, s"NTILE must balance the sample: ${sizes.toSeq}")
    // the plan covers the full table: all but a boundary-tie sliver of
    // rows fall at or below the last upper bound (the last bucket is
    // open-ended in a real writer)
    val maxKey = li.agg(max("l_partkey")).collect()(0).getLong(0)
    assert(uppers.last <= maxKey)
    val below = li.filter(col("l_partkey") <= uppers.last).count()
    assert(below >= (li.count() * 0.9).toLong,
      "sampled bounds must cover ~all of the key mass")
  }

  test("served BM25 through a written index equals the text-fed chain row-for-row") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val got = IndexFixtures.served(IndexFixtures.Bm25, spark, sf)
    val fresh = graft.operators.RetrievalOps.bm25TopK(docs)
    assert(got.exceptAll(fresh).count() == 0 && fresh.exceptAll(got).count() == 0,
      "stored-index BM25 must be bit-identical to the text-fed build")
    assert(got.count() == 10)
  }

  test("BM25 append into the stored index ≡ rebuild over the union; redelivery appends nothing") {
    import graft.operators.RetrievalOps
    import graft.sources.BulkOps
    val docs = graft.sources.Tables.documents(spark, sf)
    val oldSide = docs.filter(col("doc_id") >= 100)
    val batch = docs.filter(col("doc_id") < 100)
    val dirA = java.nio.file.Files.createTempDirectory("graft_bm25_app_a").toString
    RetrievalOps.bm25WriteIndex(oldSide, dirA)
    RetrievalOps.bm25AppendDocs(spark, dirA, batch)
    val dirB = java.nio.file.Files.createTempDirectory("graft_bm25_app_b").toString
    RetrievalOps.bm25WriteIndex(docs, dirB)
    val a = RetrievalOps.bm25ServedTopK(spark, dirA)
    val b = RetrievalOps.bm25ServedTopK(spark, dirB)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "appended BM25 index must serve exactly what a full-build index serves")
    // redelivery: the same batch (and a slice of the original corpus)
    // must not double any doc's tf rows or length
    RetrievalOps.bm25AppendDocs(spark, dirA, batch)
    RetrievalOps.bm25AppendDocs(spark, dirA, oldSide.filter(col("doc_id") % 3 === 0))
    assert(BulkOps.readPath(spark, s"$dirA/lens")
      .groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      "a redelivered doc must not write a second length row")
    val again = RetrievalOps.bm25ServedTopK(spark, dirA)
    assert(again.exceptAll(b).count() == 0 && b.exceptAll(again).count() == 0)
  }

  test("BM25 torn append self-heals: a crash at every protocol step converges after one redelivery") {
    import graft.operators.{IndexLifecycle, RetrievalOps}
    import graft.sources.BulkOps
    val docs = graft.sources.Tables.documents(spark, sf)
    val oldSide = docs.filter(col("doc_id") >= 100)
    val batch = docs.filter(col("doc_id") < 100)
    val ref = java.nio.file.Files.createTempDirectory("graft_bm25_tornref").toString
    RetrievalOps.bm25WriteIndex(oldSide, ref)
    RetrievalOps.bm25AppendDocs(spark, ref, batch)
    val refServe = RetrievalOps.bm25ServedTopK(spark, ref)
    // protocol order: pending marker, lens (FIRST — a torn doc with a
    // length but no postings perturbs only the corpus scalars, never a
    // term's df), postings, sidecar commit
    Seq("pending", "lens", "postings", "ids").foreach { step =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_bm25_torn_$step").toString
      RetrievalOps.bm25WriteIndex(oldSide, dir)
      IndexLifecycle.crashAt = Some(step)
      try intercept[IllegalStateException] {
        RetrievalOps.bm25AppendDocs(spark, dir, batch)
      } finally IndexLifecycle.crashAt = None
      // lens-first order: between crash and redelivery no batch doc may
      // carry postings without a length (the df-inflating torn state)
      val p = BulkOps.readPath(spark, s"$dir/postings").select("doc_id").distinct()
      val l = BulkOps.readPath(spark, s"$dir/lens").select("doc_id")
      assert(p.join(l, Seq("doc_id"), "left_anti").count() == 0,
        s"crash at '$step': a doc with postings must always have its length row")
      RetrievalOps.bm25AppendDocs(spark, dir, batch)
      Seq("postings", "lens").foreach { t =>
        val a = BulkOps.readPath(spark, s"$dir/$t")
        val b = BulkOps.readPath(spark, s"$ref/$t")
        assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
          s"healed $t after a crash at '$step' must equal the untorn append exactly")
      }
      val served = RetrievalOps.bm25ServedTopK(spark, dir)
      assert(served.exceptAll(refServe).count() == 0 &&
        refServe.exceptAll(served).count() == 0,
        s"crash at '$step': the healed index must serve the untorn answer")
    }
  }

  test("BM25 append guard is sidecar-pruned: a steady-state append never scans the data tables") {
    import graft.operators.RetrievalOps
    val docs = graft.sources.Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_guardplan").toString
    RetrievalOps.bm25WriteIndex(docs.filter(col("doc_id") % 2 === 0), dir)
    // with no crash evidence the guard must probe the ids sidecar and
    // read NEITHER postings NOR lens — the r11 full-table distinct reads
    val audited = graft.sources.BulkOps.recordReads {
      RetrievalOps.bm25AppendDocs(spark, dir, docs.filter(col("doc_id") % 2 === 1))
    }
    val storedReads = audited.filter(_.startsWith(dir))
    assert(storedReads.exists(_.contains("/ids")), s"guard must probe the sidecar: $storedReads")
    assert(!storedReads.exists(p => p.endsWith("/postings") || p.endsWith("/lens")),
      s"steady-state append must not read a data table: $storedReads")
  }

  test("dial staleness: an index rewritten out-of-band appends at the STORED dial, not the memo") {
    import graft.operators.DedupIndexOps
    import graft.sources.BulkOps
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") >= 100 && col("doc_id") % 2 === 0)
    // prime the per-JVM memo at the 24/3 dial
    val dir = java.nio.file.Files.createTempDirectory("graft_dedupidx_dial").toString
    DedupIndexOps.writeIndex(corpus, dir, numPerms = 24, bandSize = 3)
    assert(DedupIndexOps.servedDupes(spark, dir,
      docs.filter(col("doc_id") < 50)).columns.nonEmpty)
    // ANOTHER process rewrites the dir at the default 12/3 dial — the
    // memo in THIS JVM is now stale. Simulate with a file-level copy of
    // a 12/3 index into the same path.
    val other = java.nio.file.Files.createTempDirectory("graft_dedupidx_dial2").toString
    DedupIndexOps.writeIndex(corpus, other, numPerms = 12, bandSize = 3)
    graft.contract.IndexFixtures.resetFromPristine(spark, other, dir)
    // a MUTATION must read the stored meta fresh: the append signatures
    // at 12/3 (the rewritten index's truth), never the memoized 24/3
    DedupIndexOps.appendToIndex(spark, dir,
      docs.filter(col("doc_id") >= 100 && col("doc_id") % 2 === 1))
    val mins = BulkOps.readPath(spark, s"$dir/mins")
    assert(mins.select(max(col("k"))).head().getLong(0) == 11,
      "append must use the stored dial, not the stale memo")
    assert(mins.groupBy("doc_id").count().filter(col("count") =!= 12).count() == 0,
      "every doc must carry exactly the rewritten index's 12 minima")
  }

  test("sort bounds: distributed NTILE equals the single-window reference on adversarial sizes") {
    val s = spark
    import s.implicits._
    // n < buckets, n == buckets, n just over, heavy key ties, and a
    // size that leaves a remainder (uneven tile widths)
    for (n <- Seq(1, 5, 31, 32, 33, 100)) {
      // keys with heavy ties (k = i % 7); ids unique
      val rows = (0 until n).map(i => (i.toLong, (i % 7).toLong, i.toLong * 31 % n))
      val df = rows.toDF("id", "k", "id2")
        .select(col("k").as("key"), col("id"), col("id2"))
      val got = graft.operators.DataLayoutOps
        .sortBounds(df.withColumnRenamed("key", "kk"), "kk", Seq("id", "id2"),
          buckets = 32, samplePct = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // driver-side reference: plain NTILE over the total order
      val sorted = rows.map { case (id, k, id2) => (k, id, id2) }.sorted
      val b = 32
      val q = sorted.size / b; val rem = sorted.size % b
      def bucketOf(r: Int): Int = // r is 1-based rank
        if (r <= rem * (q + 1)) (r - 1) / (q + 1) + 1
        else rem + (r - rem * (q + 1) - 1) / q + 1
      val expect = sorted.zipWithIndex
        .map { case ((k, _, _), i) => (bucketOf(i + 1).toLong, k) }
        .groupBy(_._1)
        .map { case (bk, vs) => (bk, vs.size.toLong, vs.map(_._2).max) }
        .toSet
      assert(got == expect, s"n=$n: distributed NTILE diverged from the reference")
    }
  }

  test("range-partitioned write: buckets never interleave, equal keys stay together, rows conserved") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_rangewrite").toString
    graft.operators.DataLayoutOps.rangePartitionedWrite(
      li, "l_partkey", Seq("l_orderkey", "l_linenumber"), dir, buckets = 8)
    val back = spark.read.parquet(dir)
    // every row lands exactly once
    assert(back.count() == li.count())
    assert(back.select("range_bucket").distinct().count() <= 8)
    // per-bucket key ranges: consecutive populated buckets must satisfy
    // max(i) <= min(i+1) — ranges may touch (boundary key) but never
    // interleave, the property a min/max-stat range reader prunes on
    val ranges = back.groupBy("range_bucket")
      .agg(min("l_partkey").as("lo"), max("l_partkey").as("hi"))
      .orderBy("range_bucket")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    ranges.sliding(2).foreach {
      case Array((b1, _, hi1), (b2, lo2, _)) =>
        assert(hi1 <= lo2, s"buckets $b1 and $b2 interleave: hi=$hi1 > lo=$lo2")
      case _ => ()
    }
    // equal keys never split across buckets
    val split = back.groupBy("l_partkey")
      .agg(countDistinct("range_bucket").as("nb"))
      .filter(col("nb") > 1).count()
    assert(split == 0, "a key must never straddle bucket directories")
  }

  test("bm25 delete: masked serve ≡ survivor-corpus chain ≡ compacted serve; stats never stale") {
    import graft.operators.RetrievalOps
    val docs = graft.sources.Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_del").toString
    RetrievalOps.bm25WriteIndex(docs, dir)
    val dead = docs.filter(col("doc_id") % 10 === 3).select("doc_id")
    RetrievalOps.bm25DeleteDocs(spark, dir, dead)
    val masked = RetrievalOps.bm25ServedTopK(spark, dir).cache()
    assert(masked.filter(col("doc_id") % 10 === 3).count() == 0,
      "no tombstoned doc may be served")
    // the oracle-grade claim: df, n_docs and avgdl reflect the deletions —
    // the masked serve equals the TEXT-FED chain over the survivors
    val fresh = RetrievalOps.bm25TopK(docs.filter(col("doc_id") % 10 =!= 3))
    assert(masked.exceptAll(fresh).count() == 0 && fresh.exceptAll(masked).count() == 0,
      "masked serve must equal the survivor-corpus chain (stale stats would diverge)")
    // major compaction: physical drop, log cleared, serve unchanged
    assert(RetrievalOps.bm25CompactIndex(spark, dir))
    val compacted = RetrievalOps.bm25ServedTopK(spark, dir)
    assert(masked.exceptAll(compacted).count() == 0 && compacted.exceptAll(masked).count() == 0)
    assert(graft.sources.BulkOps.readPath(spark, s"$dir/postings")
      .filter(col("doc_id") % 10 === 3).count() == 0)
    assert(graft.sources.BulkOps.readPath(spark, s"$dir/lens")
      .filter(col("doc_id") % 10 === 3).count() == 0)
    assert(!RetrievalOps.bm25CompactIndex(spark, dir), "nothing left → no-op")
    masked.unpersist()
  }

  test("bm25 compaction crash window: a mid-swap lens table recovers through the entry point") {
    import graft.operators.RetrievalOps
    import graft.sources.BulkOps
    val docs = graft.sources.Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_crash").toString
    RetrievalOps.bm25WriteIndex(docs, dir)
    RetrievalOps.bm25DeleteDocs(spark, dir,
      docs.filter(col("doc_id") % 10 === 3).select("doc_id"))
    val expect = RetrievalOps.bm25ServedTopK(spark, dir).collect().toSet
    // simulate a crash between the lens swap's two renames: compacted
    // copy written, live table moved aside — the state bm25CompactIndex
    // must recover from before it proceeds
    val tomb = BulkOps.readPath(spark, s"$dir/tombstones")
    BulkOps.writePath(
        BulkOps.readPath(spark, s"$dir/lens")
          .join(org.apache.spark.sql.functions.broadcast(tomb.select("doc_id")),
            Seq("doc_id"), "left_anti"),
        org.apache.spark.sql.SaveMode.Overwrite)
      .save(s"$dir/lens_compact")
    assert(BulkOps.renamePath(spark, s"$dir/lens", s"$dir/lens_old"))
    assert(RetrievalOps.bm25CompactIndex(spark, dir),
      "compaction must recover the mid-swap lens table and run to completion")
    assert(!BulkOps.fileExists(spark, s"$dir/lens_old") &&
      !BulkOps.fileExists(spark, s"$dir/lens_compact") &&
      !BulkOps.fileExists(spark, s"$dir/tombstones"))
    val after = RetrievalOps.bm25ServedTopK(spark, dir).collect().toSet
    assert(after == expect, "recovered + compacted serve must equal the masked serve")
  }

  test("exact quantiles: census path equals the total-sort rank statistic, incl. degenerate inputs") {
    val s = spark
    import s.implicits._
    // a skewed long column with ties and range >> 1000 (so buckets fold
    // many values and the boundary resolution has real work to do)
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select((col("l_orderkey") * col("l_linenumber")).cast("long").as("x"))
    val qs = Seq(1, 25, 50, 75, 99, 100)
    val got = graft.operators.DataLayoutOps.exactQuantiles(li, "x", qs)
      .collect().map(r => r.getAs[Int]("q_e2") ->
        (r.getAs[Long]("rank"), r.getAs[Long]("value"))).toMap
    val n = li.count()
    val sorted = li.orderBy("x").collect().map(_.getLong(0))
    for (q <- qs) {
      val rank = (q * n + 99) / 100
      assert(got(q)._1 == rank, s"q=$q rank")
      assert(got(q)._2 == sorted((rank - 1).toInt),
        s"q=$q: census value != total-sort value at rank $rank")
    }
    // all-equal values: every quantile is that value (the hi==lo branch)
    val const = Seq.fill(17)(42L).toDF("x")
    val gc = graft.operators.DataLayoutOps.exactQuantiles(const, "x")
    assert(gc.collect().forall(_.getAs[Long]("value") == 42L))
    assert(gc.count() == 3)
    // skew: one extreme outlier squeezes ~all mass into bucket 0, and a
    // hot repeated value dominates it — the distinct-value census must
    // still place the ranks exactly (this is the case a per-row window
    // would funnel through one task)
    val skew = (Seq.fill(500)(7L) ++ (1L to 100L) ++ Seq(1000000000000L)).toDF("x")
    val gs = graft.operators.DataLayoutOps.exactQuantiles(skew, "x", Seq(50, 99, 100))
      .collect().map(r => r.getAs[Int]("q_e2") -> r.getAs[Long]("value")).toMap
    val sortedSkew = (Seq.fill(500)(7L) ++ (1L to 100L) ++ Seq(1000000000000L)).sorted
    for (q <- Seq(50, 99, 100)) {
      val rank = (q.toLong * sortedSkew.length + 99) / 100
      assert(gs(q) == sortedSkew((rank - 1).toInt), s"skew q=$q")
    }
    // nulls are excluded from the population entirely
    val withNulls = (Seq.fill(5)(Some(10L)) ++ Seq.fill(5)(None) ++ Seq(Some(20L)))
      .toDF("x")
    val gn = graft.operators.DataLayoutOps.exactQuantiles(withNulls, "x", Seq(50, 100))
      .collect().map(r => r.getAs[Int]("q_e2") -> (r.getAs[Long]("rank"), r.getAs[Long]("n_total"), r.getAs[Long]("value"))).toMap
    assert(gn(50) == ((3L, 6L, 10L)) && gn(100) == ((6L, 6L, 20L)),
      s"null exclusion: $gn")
  }

  test("exact quantiles dense-distinct adversary: all-distinct id column resolves through the sub-census") {
    // the r9 watch item: every value distinct, range ≈ n, so EVERY range
    // bucket is dense in distinct values (~n/1000 each). The recursion
    // level must shrink the resolve frame to a 1/10⁶ range slice and the
    // answer must still be the exact rank statistic.
    val ids = spark.range(0, 60000).select((col("id") * 3L + 1L).as("x"))
    val qs = Seq(1, 50, 99, 100)
    val got = graft.operators.DataLayoutOps.exactQuantiles(ids, "x", qs)
      .collect().map(r => r.getAs[Int]("q_e2") -> r.getAs[Long]("value")).toMap
    for (q <- qs) {
      val rank = (q.toLong * 60000 + 99) / 100
      assert(got(q) == (rank - 1) * 3L + 1L, s"dense-distinct q=$q")
    }
  }

  test("shuffled grouped quantiles twin: row-identical to the broadcast variant") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), floor(col("value") * 100).cast("long").as("v"))
    val a = graft.operators.DataLayoutOps.exactQuantilesBy(ev, "user_id", "v")
    val b = graft.operators.DataLayoutOps.exactQuantilesByShuffled(ev, "user_id", "v")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "shuffled twin must produce the identical result set")
    assert(a.count() > 0)
  }

  test("grouped exact quantiles: per-group census equals per-group total-sort, groups independent") {
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("g"),
        (col("l_orderkey") * col("l_linenumber")).cast("long").as("x"))
    val qs = Seq(25, 50, 99)
    val got = graft.operators.DataLayoutOps.exactQuantilesBy(li, "g", "x", qs)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Int]("q_e2")) ->
        r.getAs[Long]("value")).toMap
    val groups = li.select("g").distinct().collect().map(_.getString(0))
    assert(got.size == groups.length * qs.length, "one row per (group, q)")
    for (g <- groups) {
      val sorted = li.filter(col("g") === g).orderBy("x").collect().map(_.getLong(1))
      for (q <- qs) {
        val rank = (q.toLong * sorted.length + 99) / 100
        assert(got((g, q)) == sorted((rank - 1).toInt),
          s"group $g q=$q: grouped census != that group's total-sort value")
      }
    }
  }
}
