package graft.sources

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bulk table lifecycle ops re-expressed as Spark bulk jobs (SURVEY.md
  * north star: bulk fits Spark; live admin RPCs become emitted plans).
  *
  * O-6 snapshot-based copy (`api/common/HBaseStaticHelper.java:18-39`),
  * O-7 replace-with-backup (`:41-78`), O-8 buffered batch writer →
  * partitioned append (`api/meta/TechnicalMeta.java:167-186`), O-57
  * snapshot retention (`api/configuration/HBaseToolsOptions.java:114-119`).
  *
  * Tables here are file directories (parquet by default); the storage
  * FORMAT rides the same connector seam as [[Tables]]
  * (`graft.source.format` / `graft.source.option.<k>`). These ops are
  * inherently PATH-addressed (backup names, partition retention, file
  * existence checks), so a name-addressed connector
  * (`graft.source.nameAddressed=true`) is rejected up front rather than
  * silently mis-backing-up — a connector deployment does its bulk
  * lifecycle through the connector's own table admin surface.
  */
object BulkOps {

  private def requirePathAddressed(spark: SparkSession): Unit =
    if (spark.conf.get(Tables.NameAddressedKey, "false").toBoolean)
      throw new IllegalStateException(
        "BulkOps is path-addressed (backups, retention, existence checks); " +
          s"unset ${Tables.NameAddressedKey} or use the connector's own bulk admin surface")

  /** `schema`, when known, skips schema inference (a Spark job per
    * open for parquet). */
  private[graft] def readPath(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    requirePathAddressed(spark)
    readAudit.get.foreach(_ += path)
    val r = spark.read.format(Tables.sourceFormat(spark)).options(Tables.sourceOptions(spark))
    schema.fold(r)(r.schema).load(path)
  }

  // test seam: record every path [[readPath]] touches while `f` runs —
  // the index specs use it to pin WHICH stored tables a lifecycle op
  // reads (e.g. a steady-state append probes the ids sidecar and never
  // a data table). Thread-local, so parallel suites don't cross-record.
  private val readAudit =
    new ThreadLocal[Option[scala.collection.mutable.ArrayBuffer[String]]] {
      override def initialValue: Option[scala.collection.mutable.ArrayBuffer[String]] = None
    }

  private[graft] def recordReads[T](f: => T): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    readAudit.set(Some(buf))
    try { f; buf.toSeq } finally readAudit.set(None)
  }

  private[graft] def writePath(df: DataFrame, mode: SaveMode): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val spark = df.sparkSession
    df.write.format(Tables.sourceFormat(spark)).options(Tables.sourceOptions(spark)).mode(mode)
  }

  private val TsFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)

  def snapshotName(table: String, epochMillis: Long): String =
    s"snp_${table}_${TsFmt.format(Instant.ofEpochMilli(epochMillis))}"

  def backupName(table: String, epochMillis: Long): String =
    s"origin_${table}_${TsFmt.format(Instant.ofEpochMilli(epochMillis))}"

  /** O-6: copy a table via an intermediate snapshot name. Returns the
    * copied row count after VERIFYING the write: source and destination
    * are both counted after the write commits and a mismatch throws —
    * a connector that silently drops or duplicates rows fails the copy
    * instead of reporting a plausible number. Both counts are
    * footer-metadata-cheap for parquet (no full parse); the source count
    * is taken after the write from the same immutable snapshot the write
    * read. */
  def copyTable(spark: SparkSession, srcPath: String, destPath: String): Long = {
    val df = readPath(spark, srcPath)
    writePath(df, SaveMode.ErrorIfExists).save(destPath)
    verifyCopyCounts(spark, srcPath, destPath)
  }

  /** The post-write check [[copyTable]] runs: recount both sides, throw
    * on mismatch, return the verified count. */
  private[graft] def verifyCopyCounts(spark: SparkSession, srcPath: String, destPath: String): Long = {
    val srcCount = readPath(spark, srcPath).count()
    val destCount = readPath(spark, destPath).count()
    if (srcCount != destCount)
      throw new IllegalStateException(
        s"copyTable verification failed: source $srcPath has $srcCount rows " +
          s"but destination $destPath has $destCount")
    destCount
  }

  /** O-7: replace `to` with `from`: optional backup copy of `to`
    * (origin_<table>_<ts>), overwrite `to` from `from`, drop `from`.
    * Returns the backup path if one was made. */
  def replaceTable(
      spark: SparkSession,
      fromPath: String,
      toPath: String,
      makeBackup: Boolean,
      epochMillis: Long): Option[String] = {
    val backup = if (makeBackup && fileExists(spark, toPath)) {
      val b = s"${parent(toPath)}/${backupName(name(toPath), epochMillis)}"
      writePath(readPath(spark, toPath), SaveMode.ErrorIfExists).save(b)
      Some(b)
    } else None
    writePath(readPath(spark, fromPath), SaveMode.Overwrite).save(toPath)
    deletePath(spark, fromPath)
    backup
  }

  /** O-8: partitioned snapshot append — the batch writer with TTL
    * semantics handled by partition retention instead of per-record TTL.
    *
    * Layout contract: `destPath/snapshot_date=D/...`. MUST NOT share a
    * destPath with [[writeTopologySnapshotBatch]], whose layout nests
    * `batch_id=N/` ABOVE snapshot_date — mixing the two produces an
    * inconsistent partition tree that breaks parquet partition discovery
    * on read. Both writers enforce this with a one-listing guard. */
  def writeTopologySnapshot(topology: DataFrame, destPath: String): Unit = {
    requireNoChildPrefix(topology.sparkSession, destPath, "batch_id=",
      "writeTopologySnapshot cannot append under a writeTopologySnapshotBatch destPath")
    writePath(snapshotLayout(topology), SaveMode.Append)
      .partitionBy("snapshot_date").save(destPath)
  }

  /** One FS listing: refuse to interleave the two snapshot layouts. */
  private def requireNoChildPrefix(
      spark: SparkSession, destPath: String, prefix: String, msg: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(destPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val clash = fs.listStatus(p).exists(_.getPath.getName.startsWith(prefix))
      require(!clash, s"$msg (found '$prefix*' under $destPath)")
    }
  }

  /** Cluster rows by date for the partitioned write WITHOUT collapsing a
    * single-date snapshot onto one task: an 8-way salt keeps write
    * parallelism while bounding files-per-date. */
  private def snapshotLayout(topology: DataFrame): DataFrame =
    topology
      .withColumn("snapshot_date", to_date(col("snapshot_ts")))
      .repartition(col("snapshot_date"), pmod(hash(col("region_id")), lit(8)))

  /** O-8 streaming variant, IDEMPOTENT under micro-batch replay: batch N
    * overwrites its own `batch_id=N/` subtree under `destPath` (date
    * partitioning preserved inside it), so a foreachBatch retry rewrites
    * identical data instead of appending duplicates. Readers discover
    * batch_id as an extra partition column; snapshot_date pruning is
    * unaffected. MUST NOT share a destPath with [[writeTopologySnapshot]]
    * (guarded — see its layout contract). */
  def writeTopologySnapshotBatch(topology: DataFrame, destPath: String, batchId: Long): Unit = {
    requireNoChildPrefix(topology.sparkSession, destPath, "snapshot_date=",
      "writeTopologySnapshotBatch cannot write under a writeTopologySnapshot destPath")
    writePath(snapshotLayout(topology), SaveMode.Overwrite)
      .partitionBy("snapshot_date").save(s"$destPath/batch_id=$batchId")
  }

  /** O-57: retention — drop partitions older than maxAgeDays relative to
    * `nowEpochDay` (partition prune; no full scan at 100 TB). */
  def retainedTopology(spark: SparkSession, path: String, nowEpochDay: Int, maxAgeDays: Int): DataFrame =
    readPath(spark, path)
      .filter(datediff(lit(java.time.LocalDate.ofEpochDay(nowEpochDay.toLong).toString).cast("date"),
        col("snapshot_date")) <= maxAgeDays)

  private[graft] def fileExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** DRIVER-side single-file write of a bounded id set into `dir` — the
    * index-protocol fast path for pending markers and sidecar delta
    * segments, whose data (an ingest batch's ids) is driver-resident by
    * construction. A Spark write of the same rows costs a full job
    * (repartition(1), one task, the commit protocol) to produce one tiny
    * file; this writes the file through parquet-hadoop directly and
    * costs no job at all. Eligible only under the DEFAULT seam
    * configuration (`parquet`, no reader/writer options) — any custom
    * format or option set falls back to the seam write, so the
    * `graft.source.*` contract is preserved; returns whether it wrote.
    * The file lands under a unique part name beside any existing
    * segments, i.e. exactly `SaveMode.Append` directory semantics. */
  private[graft] def writeIdsDirect(spark: SparkSession, dir: String,
      idCol: String, ids: Seq[Long]): Boolean =
    writeFileDirect(spark, s"$dir/part-00000-${java.util.UUID.randomUUID()}.snappy.parquet",
      s"optional int64 $idCol;", ids)((g, id) => g.append(idCol, id))

  /** The one-file parquet write behind [[writeIdsDirect]], at `file`:
    * `fields` are the message body of the file schema, `fill` appends
    * one row's fields to a record. False (nothing written) outside the
    * default seam configuration. */
  private[graft] def writeFileDirect[T](spark: SparkSession, file: String, fields: String,
      rows: Seq[T])(fill: (org.apache.parquet.example.data.Group, T) => Unit): Boolean = {
    if (!directParquet(spark)) return false
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    // `optional` fields, matching Spark's own parquet writer exactly: seam
    // writes into the same delta directories emit optional int64, and a
    // mixed required/optional column across segments breaks mergeSchema
    // and stricter readers (values are non-null either way)
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message spark_schema { $fields }")
    val target = new org.apache.hadoop.fs.Path(file)
    // write to a dot-prefixed temp name (invisible to parquet directory
    // readers) and RENAME into place after close — atomic on local FS
    // and HDFS. A crash mid-write then leaves only an ignored temp file,
    // never a torn footer-less parquet visible in pending/ or ids_delta/
    // that would make every later marker resolution or sidecar read
    // throw — the same "commit by rename" guarantee the old Spark write
    // had via FileOutputCommitter.
    val tmp = new org.apache.hadoop.fs.Path(target.getParent, s".${target.getName}.tmp")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      fill(g, r)
      writer.write(g)
    }
    finally writer.close()
    val fs = tmp.getFileSystem(conf)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"writeFileDirect: rename $tmp -> $target failed")
    }
    true
  }

  /** DRIVER-side read of bounded id logs (the index tombstone and
    * base-mask logs) — the read twin of [[writeIdsDirect]]: the files
    * are read through parquet-hadoop directly, so a serve's masks cost
    * no Spark job. None outside the default seam configuration (the
    * caller reads through Spark instead). Null ids are skipped. */
  private[graft] def readIdsDirect(spark: SparkSession, files: Seq[String],
      idCol: String): Option[Seq[Long]] = {
    if (!directParquet(spark)) return None
    val conf = spark.sparkContext.hadoopConfiguration
    Some(files.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader.builder(
          new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(f))
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .filter(_.getFieldRepetitionCount(idCol) > 0)
        .map(_.getLong(idCol, 0)).toVector
      finally reader.close()
    })
  }

  /** The summed row counts of parquet `files`, read off their footers on
    * the driver (no Spark job); None outside the default seam
    * configuration. */
  private[graft] def footerRows(spark: SparkSession, files: Seq[String]): Option[Long] = {
    if (!directParquet(spark)) return None
    val conf = spark.sparkContext.hadoopConfiguration
    Some(files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try r.getRecordCount finally r.close()
    }.sum)
  }

  private def directParquet(spark: SparkSession): Boolean =
    Tables.sourceFormat(spark) == "parquet" && Tables.sourceOptions(spark).isEmpty

  private[graft] def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Recursive rename (the compaction swap primitive). Returns the
    * filesystem's verdict — callers MUST check it: a false from a swap
    * step means the swap did not happen, and acting as if it did (e.g.
    * clearing a tombstone log) silently resurrects deleted rows. */
  private[graft] def renamePath(spark: SparkSession, from: String, to: String): Boolean = {
    val f = new org.apache.hadoop.fs.Path(from)
    val t = new org.apache.hadoop.fs.Path(to)
    f.getFileSystem(spark.sparkContext.hadoopConfiguration).rename(f, t)
  }

  private def parent(path: String): String =
    new org.apache.hadoop.fs.Path(path).getParent.toString
  private def name(path: String): String =
    new org.apache.hadoop.fs.Path(path).getName
}
