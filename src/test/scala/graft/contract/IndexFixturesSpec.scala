package graft.contract

import graft.SparkSpec
import graft.operators.{DedupIndexOps, PqOps}
import graft.sources.Tables
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fixture memo's invalidation contract: an entry is valid for the
  * input file listing it was built from. */
class IndexFixturesSpec extends SparkSpec {

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Overwrite `<dir>/<name>.parquet` in place with the rows of `df`. */
  private def rewrite(dir: Path, name: String, df: DataFrame): Unit = {
    val tmp = Files.createTempDirectory("graft_rewrite")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("serve-only fixtures rebuild when their input is rewritten in place") {
    // caching off: only the fixture memo can carry state across the
    // rewrite (Spark's cache keys file relations by path, not content)
    withSQLConf(graft.Caching.EnabledKey -> "false") {
      val dir = Files.createTempDirectory("graft_sf_rewrite")
      Files.list(java.nio.file.Paths.get(sf)).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
      val d = dir.toString
      def freshAnn = PqOps.ivfPqResidualTrainedTopK(Tables.embeddings(spark, d))
      def freshDedup = {
        val idx = Files.createTempDirectory("graft_fresh_dedup").toString
        val docs = Tables.documents(spark, d)
        DedupIndexOps.writeIndex(docs.filter(!IndexFixtures.batchPred), idx)
        DedupIndexOps.servedDupes(spark, idx,
          docs.filter(IndexFixtures.batchPred && col("doc_id") < IndexFixtures.ServeOnlyIdCap))
      }
      val ann0 = IndexFixtures.serveOnly(IndexFixtures.Ann, spark, d).localCheckpoint()
      val dedup0 = IndexFixtures.serveOnly(IndexFixtures.Dedup, spark, d).localCheckpoint()
      assert(sameRows(ann0, freshAnn) && sameRows(dedup0, freshDedup))
      assert(dedup0.count() > 0, "the dedup serve must find duplicates to be a check")

      // the same paths, different rows: every id moves to another row
      val n = 500L
      val emb = Tables.embeddings(spark, d)
        .withColumn("vec_id", (col("vec_id") + 37) % n).localCheckpoint()
      val docs = Tables.documents(spark, d)
        .withColumn("doc_id", (col("doc_id") + 37) % n).localCheckpoint()
      rewrite(dir, "embeddings", emb)
      rewrite(dir, "documents", docs)

      val ann1 = IndexFixtures.serveOnly(IndexFixtures.Ann, spark, d)
      val dedup1 = IndexFixtures.serveOnly(IndexFixtures.Dedup, spark, d)
      assert(!sameRows(ann0, freshAnn) && !sameRows(dedup0, freshDedup),
        "the rewrite must change both answers")
      assert(sameRows(ann1, freshAnn), "ANN serve-only must serve the rewritten vectors")
      assert(sameRows(dedup1, freshDedup), "dedup serve-only must serve the rewritten docs")
    }
  }
}
