package graft.operators

import graft.sources.{BulkOps, Tables}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Dev harness: decompose the dedup append-path TABLE WRITE cost —
  * compute (signature subtree) vs fresh-dir write vs append-into-big-
  * table write — against a persistent corpus index, so the append-only
  * family's scale shape can be attributed to a phase instead of
  * guessed. `scripts/run.sh graft.operators.ProfileSigWrite <sfDir>`. */
object ProfileSigWrite {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.tools.TimingSession.create()
    spark.conf.set(graft.Caching.EnabledKey, "false")
    val docs = Tables.documents(spark, sfDir)
    val dir = "/tmp/profsig_idx_" + math.abs(sfDir.hashCode)
    if (!BulkOps.fileExists(spark, s"$dir/meta")) {
      println(s"[profsig] building index at $dir ...")
      DedupIndexOps.writeIndex(docs.filter(!DedupIndexOps.batchPred), dir)
    }
    val meta = DedupIndexOps.readMetaFresh(spark, dir)
    val base = graft.tools.IndexScratch.AppendIdBase
    val pass = graft.tools.IndexScratch.passNumber(s"profsig|$sfDir")
    val rows = docs
      .filter(DedupIndexOps.batchPred && col("doc_id") < DedupIndexOps.ServeOnlyIdCap)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0) + base * pass, r.getString(1))).toSeq
    import spark.implicits._
    val batch = rows.toDF("doc_id", "text")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profsig] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2fs"); r
    }
    for (round <- 1 to 2) {
      println(s"[profsig] -- round $round (batch ${rows.size} docs, " +
        s"bucket_parts ${meta.bucketParts}, mins_parts ${meta.minsParts})")
      val wide = DedupOps.batchMinhashWide(batch, meta.numPerms)
      t("wide.count")(wide.count())
      val banded = DedupIndexOps.bandedWithPb(wide, meta)
      t("banded.count")(banded.count())
      t("banded write FRESH")(
        BulkOps.writePath(banded.repartition(col("pb")), SaveMode.Overwrite)
          .partitionBy("pb").save(s"/tmp/profsig_fresh_$round"))
      t("banded write APPEND big")(
        BulkOps.writePath(banded.repartition(col("pb")), SaveMode.Append)
          .partitionBy("pb").save(s"$dir/sigs"))
      val slim = DedupIndexOps.slimWithMb(wide, meta)
      t("slim write APPEND big")(
        BulkOps.writePath(slim.repartition(col("mb")), SaveMode.Append)
          .partitionBy("mb").save(s"$dir/mins"))
    }
    spark.stop()
  }
}
