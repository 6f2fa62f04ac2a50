package graft

import java.nio.file.{Files, Paths}

import graft.cluster.ClusterViews
import graft.model.{Finding, Severity}
import graft.reporters.{ClusterState, Reporters}
import graft.sinks.ReportSinks
import graft.sources.{AuxSources, BulkOps, GraftSettings}
import org.apache.spark.sql.functions._

class SinksAndSourcesSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft_test").toString

  test("reporter registry: all 9 reporters produce typed findings over shared state") {
    assert(Reporters.all.size == 9) // parity with ReportRunner.java:42-50
    val state = ClusterState.fromSf(spark, sf)
    try {
      val findings = Reporters.runAll(state).cache()
      assert(findings.count() > 0)
      val sevs = findings.select("severity").distinct().collect().map(_.getString(0)).toSet
      assert(sevs.subsetOf(Set("CRITICAL", "NORMAL", "LOW", "NONE")))
      // distinct reporters contribute distinct problem strings
      assert(findings.select("problem").distinct().count() >= 5)
      findings.unpersist()
    } finally state.uncache()
  }

  test("typed SeverityAggregator rolls up findings per report group") {
    val s = spark
    import s.implicits._
    val findings = Reporters.runAll(ClusterState.fromSf(spark, sf))
    val rolled = findings
      .groupByKey(_.problem)
      .agg(graft.functions.SeverityAggregator.toColumn.name("severity"))
      .collect()
      .toMap
    assert(rolled.nonEmpty)
    assert(rolled.values.forall(Set("CRITICAL", "NORMAL", "LOW", "NONE")))
    // cross-check one group against the untyped path
    val biggest = findings.filter(_.problem.contains("compaction weight"))
    val c = biggest.filter(_.severity == "CRITICAL").count()
    val n = biggest.filter(_.severity == "NORMAL").count()
    val l = biggest.filter(_.severity == "LOW").count()
    assert(rolled("region exceeds compaction weight threshold") ==
      graft.model.Severity.rollup(c, n, l))
  }

  test("severity rollup ladder matches reference ComplexReport thresholds") {
    assert(Severity.rollup(2, 0, 0) == Severity.Critical) // 18 > 10
    assert(Severity.rollup(1, 0, 0) == Severity.Normal)   // 9 in (7, 10]
    assert(Severity.rollup(0, 1, 0) == Severity.Low)      // 3 in (2, 7]
    assert(Severity.rollup(0, 0, 1) == Severity.None)     // 1 <= 2
  }

  test("report sinks: html, fix script, resolution log (O-10)") {
    val s = spark
    import s.implicits._
    val findings = Seq(
      Finding("REGION", "r1", "too big", "CRITICAL", "HBASE_SHELL", "major_compact r1"),
      Finding("TABLE", "t1", "small regions", "LOW", "SHELL", "merge-tool t1"),
      Finding("REGION_SERVER", "s1", "low locality", "NORMAL", "ADVICE", "rebalance s1")).toDS()
    val out = tmpDir()
    val paths = ReportSinks.writeAll(findings, out, 1700000000000L)
    assert(paths.forall(p => Files.exists(Paths.get(p))))
    val sh = Files.readString(Paths.get(paths(1)))
    assert(sh.contains("""echo 'major_compact r1' | hbase shell"""))
    assert(sh.contains("merge-tool t1"))
    assert(sh.contains("# advice: rebalance s1"))
    val html = Files.readString(Paths.get(paths.head))
    assert(html.contains("<td>CRITICAL</td>") && html.contains("too big"))
  }

  test("report sinks escape hostile cluster-derived names (shell + html)") {
    val s = spark
    import s.implicits._
    val evil = """t"x`$HOME'y<b>&z"""
    val findings = Seq(
      Finding("REGION", evil, "too big", "CRITICAL", "HBASE_SHELL", s"major_compact $evil"),
      Finding("TABLE", evil, "p<i>q", "LOW", "ADVICE", "line1\nline2")).toDS()
    val out = tmpDir()
    val paths = ReportSinks.writeAll(findings, out, 1700000000000L)
    val sh = Files.readString(Paths.get(paths(1)))
    // the piped command is single-quoted with '\'' escaping: no live ", $, `
    assert(sh.contains("echo 'major_compact t\"x`$HOME'\\''y<b>&z' | hbase shell"))
    // multi-line advice stays fully commented
    assert(sh.contains("# advice: line1\n# line2"))
    val html = Files.readString(Paths.get(paths.head))
    assert(!html.contains("<b>") && html.contains("&lt;b&gt;&amp;z"))
    assert(html.contains("p&lt;i&gt;q"))
  }

  test("bulk copy + replace with backup (O-6/O-7)") {
    val base = tmpDir()
    val src = s"$base/src_table"
    ClusterViews.regionMetrics(spark, sf).write.parquet(src)
    val n = BulkOps.copyTable(spark, src, s"$base/copy_table")
    assert(n == spark.read.parquet(src).count())

    val backup = BulkOps.replaceTable(spark, s"$base/copy_table", src, makeBackup = true, 1700000000000L)
    assert(backup.isDefined && backup.get.contains("origin_src_table_"))
    assert(Files.exists(Paths.get(backup.get)))
    assert(!Files.exists(Paths.get(s"$base/copy_table"))) // from dropped
    assert(spark.read.parquet(src).count() == n)          // to replaced
  }

  test("copyTable write verification: a destination that lost rows fails the copy") {
    val base = tmpDir()
    val src = s"$base/vsrc"
    ClusterViews.regionMetrics(spark, sf).limit(50).repartition(2).write.parquet(src)
    val dest = s"$base/vdst"
    assert(BulkOps.copyTable(spark, src, dest) == 50)
    // simulate a connector that silently dropped rows: remove one part
    // file from the destination, then re-run the same check copyTable runs
    val lost = new java.io.File(dest).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    assert(lost.delete())
    val ex = intercept[IllegalStateException] {
      BulkOps.verifyCopyCounts(spark, src, dest)
    }
    assert(ex.getMessage.contains("verification failed"))
  }

  test("topology snapshot writer + partition retention (O-8/O-57)") {
    val out = s"${tmpDir()}/topo"
    val topo = ClusterViews.topology(spark, sf)
    BulkOps.writeTopologySnapshot(topo, out)
    val all = spark.read.parquet(out)
    assert(all.count() == topo.count())
    // retention keeps only recent partitions
    val maxDay = all.agg(max(col("snapshot_date"))).collect()(0).getDate(0)
      .toLocalDate.toEpochDay.toInt
    val kept = BulkOps.retainedTopology(spark, out, maxDay, 30)
    val cutoff = java.time.LocalDate.ofEpochDay(maxDay.toLong).minusDays(30)
    assert(kept.filter(col("snapshot_date") < lit(cutoff.toString).cast("date")).count() == 0)
    assert(kept.count() > 0 && kept.count() < all.count())
  }

  test("the two snapshot writers refuse to interleave layouts on one destPath") {
    val topo = ClusterViews.topology(spark, sf)
    val a = s"${tmpDir()}/topo_a"
    BulkOps.writeTopologySnapshot(topo, a)
    val exA = intercept[IllegalArgumentException] {
      BulkOps.writeTopologySnapshotBatch(topo, a, 1L)
    }
    assert(exA.getMessage.contains("snapshot_date="))
    val b = s"${tmpDir()}/topo_b"
    BulkOps.writeTopologySnapshotBatch(topo, b, 1L)
    val exB = intercept[IllegalArgumentException] {
      BulkOps.writeTopologySnapshot(topo, b)
    }
    assert(exB.getMessage.contains("batch_id="))
  }

  test("serverPorts rejects a malformed jmx port mapping with a clear error") {
    val suppliers = graft.sources.Tables.supplier(spark, sf)
    for (bad <- Seq("16020:10101,bogus", ":10101", "16020:")) {
      val ex = intercept[IllegalArgumentException] {
        graft.operators.EventsOps.serverPorts(suppliers, bad)
      }
      assert(ex.getMessage.contains("malformed port mapping"), s"input: $bad")
    }
  }

  test("settings registry: defaults, overrides, unknown-key warnings (O-11)") {
    val s = GraftSettings.parse(
      """compactor.border.weight=20
        |some.unknown.key=x
        |""".stripMargin)
    assert(s.double("compactor.border.weight") == 20.0)
    assert(s.long("compactor.parallel.compactions") == 2L) // default
    assert(s.unknownKeys == Seq("some.unknown.key"))
  }

  test("auth seam: settings map to submit conf, site resources, and the doAs fallback") {
    import graft.sources.SecurityContext
    // unsecured: empty principal/keytab (the reference defaults) → no
    // kerberos conf at all, not half a configuration
    val plain = GraftSettings.parse("")
    assert(!SecurityContext.secured(plain))
    assert(SecurityContext.sparkSubmitConf(plain).isEmpty)

    // secured: both set → the three Spark confs that replace UGIExecutor
    // (declared identity + Spark-managed relogin instead of a doAs loop)
    val sec = GraftSettings.parse(
      """principal=graft/host@REALM
        |keytab=/etc/security/keytabs/graft.keytab
        |""".stripMargin)
    assert(SecurityContext.secured(sec))
    val conf = SecurityContext.sparkSubmitConf(sec, reloginPeriodMinutes = 7)
    assert(conf("spark.kerberos.principal") == "graft/host@REALM")
    assert(conf("spark.kerberos.keytab") == "/etc/security/keytabs/graft.keytab")
    assert(conf("spark.kerberos.relogin.period") == "7m")
    // principal without keytab is NOT secured (checkParameters semantics)
    assert(!SecurityContext.secured(GraftSettings.parse("principal=x@R")))

    // site resources: only files that exist make the Configuration list
    val site = Files.createTempFile("core-site", ".xml")
    val s2 = GraftSettings.parse(
      s"""core.site=$site
         |hdfs.site=/nonexistent/hdfs-site.xml
         |""".stripMargin)
    assert(SecurityContext.hadoopResources(s2) == Seq(site.toString))

    // doAs fallback contract: privileged wins when it works; a failing
    // privileged runner falls back to unsecured (with the error surfaced
    // to the caller's hook); both failing fails the action
    assert(SecurityContext.withLoginFallback(() => 1, () => 2) == 1)
    var seen: Throwable = null
    val got = SecurityContext.withLoginFallback[Int](
      () => throw new IllegalStateException("no TGT"), () => 2, e => seen = e)
    assert(got == 2 && seen != null && seen.getMessage == "no TGT")
    val boom = intercept[RuntimeException] {
      SecurityContext.withLoginFallback[Int](
        () => throw new IllegalStateException("no TGT"),
        () => throw new IllegalStateException("acl denied"))
    }
    assert(boom.getCause.getMessage == "acl denied")
    assert(boom.getCause.getSuppressed.head.getMessage == "no TGT")
  }

  test("aux sources: metrics feed and table list file (O-12/O-13)") {
    val feed = AuxSources.serverMetricsFeed(spark, Seq(("s1", 5, 2, 99.5), ("s2", 0, 0, 100.0)))
    assert(feed.count() == 2 && feed.columns.contains("compaction_queue"))
    val f = Files.createTempFile("tables", ".txt")
    Files.writeString(f, "t1\n# comment\n\nt2\n")
    val tables = AuxSources.tablesFromFile(spark, f.toString)
    assert(tables.collect().map(_.getString(0)).sorted.toSeq == Seq("t1", "t2"))
  }

  test("connector seam: a second source format is pure configuration, no operator changes") {
    val dir = tmpDir()
    // stage the documents table as JSON under the seam's naming scheme
    val viaParquet = graft.sources.Tables.documents(spark, sf)
    viaParquet.write.json(s"$dir/documents.json")
    try {
      spark.conf.set(graft.sources.Tables.FormatKey, "json")
      spark.conf.set(graft.sources.Tables.SuffixKey, ".json")
      val viaJson = graft.sources.Tables.documents(spark, dir)
      assert(viaJson.count() == viaParquet.count())
      // a real operator runs unchanged over the swapped format
      val tok = graft.operators.TextOps.tokenCount(viaJson)
      assert(tok.count() == viaParquet.count())
      // BulkOps rides the same seam: copy the json table as json
      val n = BulkOps.copyTable(spark, s"$dir/documents.json", s"$dir/documents_copy.json")
      assert(n == viaParquet.count())
    } finally {
      spark.conf.unset(graft.sources.Tables.FormatKey)
      spark.conf.unset(graft.sources.Tables.SuffixKey)
    }
    // seam off: parquet behavior restored
    assert(graft.sources.Tables.documents(spark, sf).count() == viaParquet.count())
  }

  test("connector seam: the FULL bulk lifecycle passes on ORC with no operator changes") {
    val base = tmpDir()
    // resolve all parquet inputs BEFORE the seam flips to ORC (load()
    // binds the relation at call time; the seam then governs only the
    // staged tables under base)
    val topo = ClusterViews.topology(spark, sf)
    val metrics = ClusterViews.regionMetrics(spark, sf)
    val lineitem = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val (nTopo, nMetrics, nLine) =
      (topo.count(), metrics.count(), lineitem.count())
    try {
      spark.conf.set(graft.sources.Tables.FormatKey, "orc")
      spark.conf.set(graft.sources.Tables.SuffixKey, ".orc")
      // stage the source THROUGH the seam writer (BulkOps.writePath)
      val src = s"$base/src_table"
      BulkOps.writePath(metrics, org.apache.spark.sql.SaveMode.ErrorIfExists).save(src)
      // O-6 copy with recount verification — same code path as parquet
      val n = BulkOps.copyTable(spark, src, s"$base/copy_table")
      assert(n == nMetrics)
      // O-7 replace with backup
      val backup = BulkOps.replaceTable(
        spark, s"$base/copy_table", src, makeBackup = true, 1700000000000L)
      assert(backup.isDefined && Files.exists(Paths.get(backup.get)))
      assert(!Files.exists(Paths.get(s"$base/copy_table")))
      assert(BulkOps.readPath(spark, src).count() == nMetrics)
      // the staged files really are ORC, not parquet under another suffix
      assert(new java.io.File(src).listFiles().exists(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".orc")))
      // O-8/O-57 partitioned topology snapshot + retention
      val out = s"$base/topo"
      BulkOps.writeTopologySnapshot(topo, out)
      assert(BulkOps.readPath(spark, out).count() == nTopo)
      val maxDay = BulkOps.readPath(spark, out)
        .agg(max(col("snapshot_date"))).collect()(0).getDate(0)
        .toLocalDate.toEpochDay.toInt
      val kept = BulkOps.retainedTopology(spark, out, maxDay, 30)
      assert(kept.count() > 0 && kept.count() < nTopo)
      // the clustered rewrite rides the seam too
      val zn = graft.operators.DataLayoutOps.writeZordered(
        lineitem, "l_partkey", "l_suppkey", s"$base/z", numFiles = 4)
      assert(zn == nLine)
    } finally {
      spark.conf.unset(graft.sources.Tables.FormatKey)
      spark.conf.unset(graft.sources.Tables.SuffixKey)
    }
  }

  test("connector seam: DSv2 graftkv source — pushdown, pruning, writes, operators unchanged") {
    import graft.sources.kv.{KvSource, KvStore}
    val docsPq = graft.sources.Tables.documents(spark, sf).cache()
    val schema = docsPq.schema
    val rows = docsPq.collect().map(_.toSeq).toSeq
    KvStore.put("documents", schema, rows)
    try {
      spark.conf.set(graft.sources.Tables.FormatKey, "graftkv")
      spark.conf.set(graft.sources.Tables.NameAddressedKey, "true")
      // 1) the seam reader resolves through the DSv2 provider, full equality
      val viaKv = graft.sources.Tables.documents(spark, sf)
      assert(viaKv.count() == docsPq.count())
      assert(viaKv.collect().map(_.toSeq).toSet == docsPq.collect().map(_.toSeq).toSet)
      // multi-partition read: the source plans real slices
      assert(viaKv.rdd.getNumPartitions > 1)
      // 2) filter pushdown reaches the source (and results stay correct)
      KvSource.lastPushedFilters = Nil
      val filtered = viaKv.filter(col("doc_id") > 100L && col("lang") === "en")
      val gotF = filtered.count()
      assert(gotF == docsPq.filter(col("doc_id") > 100L && col("lang") === "en").count())
      val pushedStr = KvSource.lastPushedFilters.map(_.toString).mkString(";")
      assert(pushedStr.contains("GreaterThan(doc_id,100)") && pushedStr.contains("EqualTo(lang,en)"),
        s"expected both predicates pushed, got: $pushedStr")
      // the physical plan advertises the pushed filters too
      val planStr = filtered.queryExecution.executedPlan.toString
      assert(planStr.contains("PushedFilters") && planStr.contains("GreaterThan(doc_id,100"),
        s"plan must show the pushdown:\n$planStr")
      // 3) column pruning reaches the source
      KvSource.lastPrunedSchema = None
      graft.sources.Tables.documents(spark, sf).select("doc_id").collect()
      assert(KvSource.lastPrunedSchema.exists(_.fieldNames.toSeq == Seq("doc_id")),
        s"expected a doc_id-only read schema, got ${KvSource.lastPrunedSchema}")
      // count() ships no rows at all: it becomes a pushed COUNT(*) the
      // source answers from its own sweep (one row out, zero columns in)
      KvSource.lastPushedAggregates = Nil
      assert(graft.sources.Tables.documents(spark, sf).count() == docsPq.count())
      assert(KvSource.lastPushedAggregates.exists(_.contains("COUNT(*)")),
        s"count() must push CountStar, got ${KvSource.lastPushedAggregates}")
      // 4) an operator runs UNCHANGED against the DSv2 source
      val gopherKv = graft.operators.CurationOps.gopherRules(
        graft.sources.Tables.documents(spark, sf)).collect().map(_.toSeq).toSet
      val gopherPq = graft.operators.CurationOps.gopherRules(docsPq)
        .collect().map(_.toSeq).toSet
      assert(gopherKv == gopherPq)
      // 5) DSv2 write contract: append accumulates, overwrite truncates
      val staged = docsPq.limit(10)
      staged.write.format("graftkv").mode("append").save("kv_staged")
      assert(KvStore.rowsOf("kv_staged").size == 10)
      staged.write.format("graftkv").mode("append").save("kv_staged")
      assert(KvStore.rowsOf("kv_staged").size == 20, "append must accumulate")
      staged.write.format("graftkv").mode("overwrite").save("kv_staged")
      assert(KvStore.rowsOf("kv_staged").size == 10, "overwrite must truncate")
      // round-trip: what the writer stored, the reader returns
      val back = spark.read.format("graftkv")
        .option(graft.sources.Tables.TableNameOption, "kv_staged").load()
      assert(back.collect().map(_.toSeq).toSet == staged.collect().map(_.toSeq).toSet)
      // 6) BulkOps' path-addressed guard correctly REFUSES a name-addressed
      // store (backups/retention/existence checks need a filesystem)
      intercept[IllegalStateException] {
        BulkOps.readPath(spark, "kv_staged")
      }
      // 7) aggregate pushdown: ungrouped COUNT/MIN/MAX answered by the
      // source in one row, values exact vs parquet, composing with the
      // pushed filter
      KvSource.lastPushedAggregates = Nil
      val aggKv = graft.sources.Tables.documents(spark, sf)
        .filter(col("lang") === "en")
        .agg(count(lit(1)).as("n"), min("doc_id").as("mn"), max("n_chars").as("mx"))
        .collect()(0)
      val aggPq = docsPq.filter(col("lang") === "en")
        .agg(count(lit(1)), min("doc_id"), max("n_chars")).collect()(0)
      assert(aggKv.toSeq == aggPq.toSeq, s"pushed agg ${aggKv.toSeq} vs ${aggPq.toSeq}")
      val pushedAgg = KvSource.lastPushedAggregates.mkString(";")
      assert(pushedAgg.contains("COUNT(*)") && pushedAgg.contains("MIN(doc_id)")
        && pushedAgg.contains("MAX(n_chars)"),
        s"expected COUNT/MIN/MAX pushed to the source, got: $pushedAgg")
    } finally {
      spark.conf.unset(graft.sources.Tables.FormatKey)
      spark.conf.unset(graft.sources.Tables.NameAddressedKey)
      KvStore.clear()
      docsPq.unpersist()
    }
  }

  test("connector seam: graftkv limit/top-N, grouped-agg, and runtime-filter pushdown") {
    import graft.sources.kv.{KvSource, KvStore}
    val docsPq = graft.sources.Tables.documents(spark, sf).cache()
    KvStore.put("documents", docsPq.schema, docsPq.collect().map(_.toSeq).toSeq)
    try {
      spark.conf.set(graft.sources.Tables.FormatKey, "graftkv")
      spark.conf.set(graft.sources.Tables.NameAddressedKey, "true")
      def viaKv = graft.sources.Tables.documents(spark, sf)

      // 1) the O-5 point-get shape pushes its LIMIT into the source: each
      // partition reader stops after one row instead of sweeping its slice
      // (the reference bounds the same probe with maxResultSize(1))
      KvSource.lastPushedLimit = None
      val pointGet = viaKv.filter(col("doc_id") === 7L).limit(1)
      assert(pointGet.count() == 1L)
      assert(KvSource.lastPushedLimit.contains(1),
        s"expected LIMIT 1 pushed, got ${KvSource.lastPushedLimit}")
      val limPlan = pointGet.queryExecution.executedPlan.toString
      assert(limPlan.contains("PushedLimit: 1"), s"plan must show the pushed limit:\n$limPlan")

      // 2) the O-3 bounded-scan shape pushes its TOP-N: per-partition
      // local winners only cross the wire, TakeOrderedAndProject merges
      KvSource.lastPushedTopN = None
      val top3 = viaKv.select("doc_id", "n_chars").orderBy(col("doc_id").desc).limit(3)
      val gotTop = top3.collect().map(_.toSeq).toSeq
      val expTop = docsPq.select("doc_id", "n_chars").orderBy(col("doc_id").desc)
        .limit(3).collect().map(_.toSeq).toSeq
      assert(gotTop == expTop, s"top-N rows: $gotTop vs $expTop")
      assert(KvSource.lastPushedTopN.exists { case (orders, k) =>
        k == 3 && orders.exists(_.contains("doc_id")) },
        s"expected doc_id DESC top-3 pushed, got ${KvSource.lastPushedTopN}")

      // 3) grouped aggregate pushdown: one row per group computed inside
      // the source, group columns leading — the other half of the DSv2
      // aggregate contract beyond r7's ungrouped COUNT/MIN/MAX
      KvSource.lastPushedGroupBy = Nil
      val gKv = viaKv.groupBy("lang")
        .agg(count(lit(1)).as("n"), min("doc_id").as("mn"), max("n_chars").as("mx"))
        .collect().map(_.toSeq).toSet
      val gPq = docsPq.groupBy("lang")
        .agg(count(lit(1)).as("n"), min("doc_id").as("mn"), max("n_chars").as("mx"))
        .collect().map(_.toSeq).toSet
      assert(gKv == gPq, s"grouped pushdown disagrees with parquet")
      assert(KvSource.lastPushedGroupBy.exists(_.contains("lang")),
        s"expected GROUP BY lang pushed, got ${KvSource.lastPushedGroupBy}")

      // grouped pushdown composes with a pushed filter
      val gfKv = viaKv.filter(col("doc_id") < 50L).groupBy("source")
        .agg(count(lit(1)).as("n")).collect().map(_.toSeq).toSet
      val gfPq = docsPq.filter(col("doc_id") < 50L).groupBy("source")
        .agg(count(lit(1)).as("n")).collect().map(_.toSeq).toSet
      assert(gfKv == gfPq)

      // 4) runtime filtering: a selective dim-side filter reaches the
      // fact scan as a dynamic IN filter at execution time — the DSv2
      // seam where an hbase connector turns join keys into row-key gets
      KvStore.put("dim",
        docsPq.select("doc_id", "lang").schema,
        docsPq.select("doc_id", "lang").collect().map(_.toSeq).toSeq)
      KvSource.lastRuntimeFilters = Nil
      withSQLConf(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10.0",
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false") {
        val fact = viaKv
        // a predicate the source does NOT claim (StartsWith), so it stays
        // a residual Filter — what makes the optimizer see a selective
        // build side (a fully-claimed filter vanishes from the plan and
        // with it the pruning opportunity; production dims keep residuals)
        val dim = spark.read.format("graftkv")
          .option(graft.sources.Tables.TableNameOption, "dim").load()
          .filter(col("lang").startsWith("d"))
        val joined = fact.join(broadcast(dim), Seq("doc_id"))
          .select(fact("doc_id"), col("n_chars"))
        val got = joined.count()
        val exp = docsPq.join(
          docsPq.select("doc_id", "lang").filter(col("lang").startsWith("d")), Seq("doc_id"))
          .count()
        assert(got == exp)
        assert(KvSource.lastRuntimeFilters.exists {
          case org.apache.spark.sql.sources.In("doc_id", vs) => vs.nonEmpty
          case _ => false
        }, s"expected the dim-side keys delivered to the fact scan as a runtime IN filter, " +
          s"got ${KvSource.lastRuntimeFilters}")
        // and the physical plan names the dynamic filter on the fact scan
        val dppPlan = joined.queryExecution.executedPlan.toString
        assert(dppPlan.contains("dynamicpruningexpression"),
          s"plan must show the runtime filter:\n$dppPlan")
      }
    } finally {
      spark.conf.unset(graft.sources.Tables.FormatKey)
      spark.conf.unset(graft.sources.Tables.NameAddressedKey)
      KvStore.clear()
      docsPq.unpersist()
    }
  }

  test("connector seam: graftkv keyed layout plans a storage-partitioned join — no exchange") {
    import graft.sources.kv.{KvSource, KvStore}
    val docsPq = graft.sources.Tables.documents(spark, sf)
      .select("lang", "doc_id", "n_chars").cache()
    try {
      // fact side: docs clustered by lang; dim side: one row per lang —
      // both declare graft.key=lang, so each arrives as one input
      // partition per distinct key reporting KeyGroupedPartitioning
      KvStore.put("spj_fact", docsPq.schema, docsPq.collect().map(_.toSeq).toSeq)
      val langs = docsPq.select("lang").distinct().collect().map(_.getString(0)).sorted
      KvStore.put("spj_dim",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("boost", org.apache.spark.sql.types.LongType))),
        langs.zipWithIndex.map { case (l, i) => Seq[Any](l, (i + 1).toLong) })
      def keyed(t: String) = spark.read.format("graftkv")
        .option(graft.sources.Tables.TableNameOption, t)
        .option(KvSource.KeyOption, "lang").load()
      withSQLConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        // JOIN on the clustering key: both sides' reported partitioning
        // already satisfies the join's distribution — the plan must hold
        // ZERO shuffles (sorts are fine; they are not exchanges). This is
        // the contract that lets two region-partitioned tables join
        // region-locally on a 1000-node cluster instead of reshuffling
        // 100 TB.
        val joined = keyed("spj_fact").join(keyed("spj_dim"), Seq("lang"))
          .select(col("lang"), col("doc_id"), col("boost"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"storage-partitioned join must not shuffle:\n$plan")
        assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
        // SupportsReportOrdering: each keyed partition holds one key
        // value (trivially key-sorted), so the SMJ also drops its Sorts —
        // zero shuffles AND zero sorts
        assert(!plan.contains("Sort "),
          s"reported ordering must remove the join sorts:\n$plan")
        val exp = docsPq.count()
        assert(joined.count() == exp, "every fact row has exactly one dim match")

        // GROUP BY the clustering key with an UNCLAIMED aggregate (sum is
        // not in the source's pushdown set, so the aggregation stays in
        // Spark): the reported partitioning satisfies the final
        // aggregate's distribution — again no exchange
        val agged = keyed("spj_fact").groupBy("lang")
          .agg(sum("n_chars").as("chars"))
        val aplan = agged.queryExecution.executedPlan.toString
        assert(!aplan.contains("Exchange"),
          s"keyed group-by must aggregate partition-locally:\n$aplan")
        val gotAgg = agged.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        val expAgg = docsPq.groupBy("lang").agg(sum("n_chars").as("chars"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        assert(gotAgg == expAgg)
      }
      // keyed reads stay CORRECT under the rest of the scan contract:
      // pushed filters and limits apply inside keyed partitions, and
      // pruning the key column away silently deactivates the report
      // (partitioning is an expression over the scan OUTPUT) instead of
      // breaking resolution
      withSQLConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
        val filtered = keyed("spj_fact").filter(col("doc_id") < 50L)
        assert(filtered.count() == docsPq.filter(col("doc_id") < 50L).count())
        assert(keyed("spj_fact").limit(7).count() == 7L)
        val pruned = keyed("spj_fact").select("doc_id")
        assert(pruned.count() == docsPq.count(), "key-pruned keyed read must still scan fully")
        // a NULL key value forms its own partition instead of crashing
        // partition planning
        KvStore.put("spj_null",
          docsPq.schema,
          Seq[Seq[Any]](Seq(null, 900001L, 5L), Seq("de", 900002L, 6L)))
        assert(keyed("spj_null").count() == 2L)
        assert(keyed("spj_null").filter(col("lang").isNull).count() == 1L)
      }
      // the clustering key is TABLE LAYOUT, not a reader option: a keyed
      // WRITE records it in the store, and catalog-addressed reads
      // (`kvcat.t`) re-plan the same zero-exchange join without the
      // reader re-declaring graft.key
      spark.conf.set("spark.sql.catalog.kvcat", "graft.sources.kv.KvCatalog")
      docsPq.write.format("graftkv").mode("overwrite")
        .option(KvSource.KeyOption, "lang").save("spj_cat_fact")
      keyed("spj_dim").write.format("graftkv").mode("overwrite")
        .option(KvSource.KeyOption, "lang").save("spj_cat_dim")
      withSQLConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val catJoined = spark.table("kvcat.spj_cat_fact")
          .join(spark.table("kvcat.spj_cat_dim"), Seq("lang"))
          .select(col("lang"), col("doc_id"), col("boost"))
        val cplan = catJoined.queryExecution.executedPlan.toString
        assert(!cplan.contains("Exchange"),
          s"catalog-addressed keyed join must not shuffle:\n$cplan")
        assert(catJoined.count() == docsPq.count())
      }
      // sanity: without the key option the same join shuffles — the
      // no-exchange plan above is the REPORT's doing, not a fluke
      withSQLConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        def unkeyed(t: String) = spark.read.format("graftkv")
          .option(graft.sources.Tables.TableNameOption, t).load()
        val j = unkeyed("spj_fact").join(unkeyed("spj_dim"), Seq("lang"))
        assert(j.queryExecution.executedPlan.toString.contains("Exchange"),
          "control: the unkeyed read must still plan a shuffle")
      }
    } finally {
      KvStore.clear()
      docsPq.unpersist()
    }
  }

  test("connector seam: graftkv row-level deletes — DELETE FROM via catalog, keep-latest round-trips") {
    import graft.sources.kv.KvStore
    // the O-9 mutation log: puts interleaved with delete tombstones
    val topo = ClusterViews.topology(spark, sf)
      .withColumn("is_delete", col("obs_id") % 50 === 0).cache()
    try {
      spark.conf.set("spark.sql.catalog.kvcat", "graft.sources.kv.KvCatalog")
      // stage through the WRITER (catalyst-native storage: timestamps as
      // micros longs), then address the same store through the catalog
      topo.write.format("graftkv").mode("overwrite").save("mutlog")
      val viaCat = spark.table("kvcat.mutlog")
      assert(viaCat.count() == topo.count())
      // 1) the keep-latest-with-tombstones operator runs UNCHANGED on the
      // connector and matches its parquet-path output row for row
      val keepKv = graft.operators.CoverageOps.keepLatest(viaCat)
        .collect().map(_.toSeq).toSet
      val keepPq = graft.operators.CoverageOps.keepLatest(topo)
        .collect().map(_.toSeq).toSet
      assert(keepKv == keepPq, "keepLatest over graftkv must match the parquet path")
      // 2) DELETE FROM through Spark SQL resolves to SupportsDelete's
      // metadata-level deleteWhere (no table rewrite) — the connector
      // face of an HBase Delete mutation
      val before = KvStore.rowsOf("mutlog").size
      val nTombstone = topo.filter(col("is_delete")).count()
      spark.sql("DELETE FROM kvcat.mutlog WHERE is_delete = true")
      assert(KvStore.rowsOf("mutlog").size == before - nTombstone,
        "deleteWhere must remove exactly the tombstoned mutations")
      // 3) a fresh scan sees the deletes; compacting the purged log keeps
      // every surviving key's latest version
      val purged = spark.table("kvcat.mutlog")
      assert(purged.filter(col("is_delete")).count() == 0)
      val keepPurged = graft.operators.CoverageOps.keepLatest(purged)
        .collect().map(_.toSeq).toSet
      val expPurged = graft.operators.CoverageOps.keepLatest(
        topo.filter(!col("is_delete"))).collect().map(_.toSeq).toSet
      assert(keepPurged == expPurged)
      // 4) keyed deletes: IN-list on the clustering key — the row-key
      // range shape a real connector compiles — removes whole key groups
      spark.sql("DELETE FROM kvcat.mutlog WHERE region_id IN (1, 2, 3)")
      assert(spark.table("kvcat.mutlog").filter(col("region_id").isin(1L, 2L, 3L)).count() == 0)
      // 5) an unpushable predicate falls back to the row-level
      // copy-on-write rewrite (SupportsRowLevelOperations): the table is
      // re-written through the connector's own scan + replace write —
      // never behind its back — and exactly the matching rows disappear
      val beforeRewrite = spark.table("kvcat.mutlog")
        .select("obs_id").collect().map(_.getLong(0)).toSet
      spark.sql("DELETE FROM kvcat.mutlog WHERE obs_id % 7 = 0")
      val afterRewrite = spark.table("kvcat.mutlog")
        .select("obs_id").collect().map(_.getLong(0)).toSet
      assert(afterRewrite == beforeRewrite.filterNot(_ % 7 == 0),
        "rewrite delete must drop exactly the matching rows")
      // 6) catalog contract: listTables/dropTable address the same store
      assert(spark.sql("SHOW TABLES IN kvcat").collect().map(_.getString(1)).contains("mutlog"))
      spark.sql("DROP TABLE kvcat.mutlog")
      assert(!KvStore.contains("mutlog"))
    } finally {
      KvStore.clear()
      topo.unpersist()
    }
  }

  test("connector seam: cell-version metadata columns — keep-latest over _seq ≡ schema-column path") {
    import graft.sources.kv.KvStore
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    try {
      spark.conf.set("spark.sql.catalog.kvcat", "graft.sources.kv.KvCatalog")
      // a mutation log staged as two ordered writes: v1 for every key,
      // then v2 for half of them — the schema `ts` column and the append
      // order agree BY CONSTRUCTION, so the metadata path must reproduce
      // the schema path exactly
      (1L to 10L).map(k => (k, s"v1_$k", 100L)).toDF("k", "v", "ts")
        .write.format("graftkv").mode("overwrite").save("verstore")
      (1L to 5L).map(k => (k, s"v2_$k", 200L)).toDF("k", "v", "ts")
        .write.format("graftkv").mode("append").save("verstore")
      val tbl = spark.table("kvcat.verstore")
      // SELECT * must NOT surface the metadata columns
      assert(tbl.columns.toSeq == Seq("k", "v", "ts"))
      // O-9 keep-latest over connector metadata (the HBase cell-version
      // face): latest _seq per key — no schema timestamp needed at all
      def latest(orderCol: String) = tbl
        .select(col("k"), col("v"), col(orderCol).as("o"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy(col("o").desc)))
        .filter(col("rn") === 1).select("k", "v")
      val bySeq = latest("_seq").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val byTs = latest("ts").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(bySeq == byTs, "metadata keep-latest must equal the schema-column path")
      assert(bySeq(1L) == "v2_1" && bySeq(10L) == "v1_10")
      // the metadata columns are well-formed: _seq strictly monotone
      // across the two appends, _ts a real epoch stamp
      val meta = tbl.select(col("ts"), col("_seq"), col("_ts")).collect()
      assert(meta.length == 15)
      val maxV1 = meta.filter(_.getLong(0) == 100L).map(_.getLong(1)).max
      val minV2 = meta.filter(_.getLong(0) == 200L).map(_.getLong(1)).min
      assert(maxV1 < minV2, "append order must be visible as the _seq order")
      assert(meta.map(_.getLong(1)).distinct.length == 15, "_seq must be unique")
      assert(meta.forall(_.getLong(2) > 1500000000000L), "_ts must be epoch millis")
      // pushdown still prunes: naming a metadata column routes through
      // the same scan contract (required schema carries it)
      val pruned = tbl.select(col("k"), col("_seq")).collect()
      assert(pruned.length == 15)
      assert(graft.sources.kv.KvSource.lastPrunedSchema.exists(
        _.fieldNames.contains("_seq")))
      // a table whose SCHEMA claims _ts keeps its data column: the
      // metadata name is not advertised, SELECT resolves the data column
      Seq((1L, 7L)).toDF("k", "_ts")
        .write.format("graftkv").mode("overwrite").save("shadow")
      val sh = spark.table("kvcat.shadow")
      assert(sh.select(col("_ts")).collect().map(_.getLong(0)).toSeq == Seq(7L),
        "a schema _ts column must shadow the metadata column")
    } finally {
      KvStore.clear()
    }
  }

  test("connector seam: graftkv UPDATE and MERGE INTO (row-level copy-on-write)") {
    import graft.sources.kv.KvStore
    val s = spark
    import s.implicits._
    try {
      spark.conf.set("spark.sql.catalog.kvcat", "graft.sources.kv.KvCatalog")
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
        .toDF("k", "name", "v")
        .write.format("graftkv").mode("overwrite").save("upsert_t")
      // UPDATE with an expression RHS — rewritten through the connector's
      // scan + whole-group replace; untouched rows survive verbatim
      spark.sql("UPDATE kvcat.upsert_t SET v = v + 1 WHERE k >= 3")
      assert(spark.table("kvcat.upsert_t").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ==
        Seq((1L, 10L), (2L, 20L), (3L, 31L), (4L, 41L)))
      // MERGE INTO: the HBase bulk-upsert shape — update matched, delete
      // on a matched condition, insert unmatched — one statement, one
      // replace commit
      Seq((2L, "B", 200L), (4L, "D", 400L), (5L, "E", 500L))
        .toDF("k", "name", "v").createOrReplaceTempView("updates")
      spark.sql(
        """MERGE INTO kvcat.upsert_t t USING updates u ON t.k = u.k
          |WHEN MATCHED AND u.v >= 400 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.name = u.name, t.v = u.v
          |WHEN NOT MATCHED THEN INSERT (k, name, v) VALUES (u.k, u.name, u.v)
          |""".stripMargin)
      assert(spark.table("kvcat.upsert_t").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
        Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 31L), (5L, "E", 500L)))
    } finally KvStore.clear()
  }
}
