package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.cdc.Cdc

/** Sink-side data layout (SURVEY.md §2.F): the materialized table's
  * physical organization, which decides read cost at 100 TB.
  *
  *  - [[writePartitioned]] — hive-style directory partitioning: queries
  *    filtering on the partition column scan only their directories
  *    (partition pruning), the ADX-table analog of per-column layout.
  *  - [[compact]] — micro-batch sinks (30 s triggers, K1/K2) produce a
  *    small file per batch per partition; compaction rewrites a landing
  *    area into few large files. Uses coalesce (narrow, no shuffle):
  *    compaction is I/O-bound, and at scale it runs per partition as an
  *    OPTIMIZE-style maintenance job.
  */
object Sinks {

  /** Write an analytical table partitioned by the given columns. */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Rewrite `inPath` (e.g. the materializer's `batch=*` landing area)
    * into at most `targetFiles` files at `outPath`. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFiles: Int): Unit =
    spark.read.parquet(inPath).coalesce(targetFiles)
      .write.mode("overwrite").parquet(outPath)

  /** MERGE-style keyed upsert onto a versioned parquet table, and the
    * only latest-state store of the upsert pipeline
    * ([[Materializer.startUpsert]] feeds it one decoded row per change
    * event). Each call merges a batch of upserts/tombstones into the
    * current snapshot by (key, max ordCol) and writes a NEW immutable
    * version directory (`v=<version>`); old versions remain readable,
    * and a re-delivered batch merges idempotently (the lsn guard makes
    * replay a no-op). Tombstone rows stay in every version, so a late
    * lower-lsn replay loses to a delete in the same batch, in a later
    * batch and after a restart alike; the merge carries them like any
    * other row, and [[readLatest]] hides the rows whose `deleted`
    * column is true. The merge is [[Cdc.latestByKey]], the same rule as
    * the batch view. With a transactional table format (Delta/Iceberg)
    * this call becomes MERGE INTO; the contract — idempotent keyed upsert
    * with tombstones — is identical, which is the point. At 100 TB the
    * rewrite is partition-scoped (hash-bucket the key space and rewrite
    * only buckets containing updated keys), not a full-table pass. */
  def upsertByKey(spark: SparkSession, updates: DataFrame, tablePath: String,
                  newVersion: Long, keyCol: String = "orderid",
                  ordCol: String = "lsn"): Unit = {
    val existing = latestVersion(spark, tablePath, below = newVersion) match {
      case Some(v) => readVersion(spark, tablePath, v)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], updates.schema)
    }
    // allowMissingColumns: an additively-evolved batch (new column)
    // merges against the old snapshot with nulls backfilled, instead of
    // failing the pipeline on the first post-migration micro-batch;
    // the new version keeps the batch's columns
    Cdc.latestByKey(existing.unionByName(updates, allowMissingColumns = true)
        .select(updates.columns.map(col).toIndexedSeq: _*), keyCol, ordCol)
      .write.mode("overwrite").parquet(s"$tablePath/v=$newVersion")
  }

  /** The table's newest complete snapshot of live rows: tombstones are
    * filtered out null-safely — a pre-evolution row whose (newly added)
    * tombstone column reads back null is LIVE, where bare `!col` would
    * three-value-logic it away — and a version without the column at
    * all reads as all-live. Starts no Spark job (see [[readVersion]]). */
  def readLatest(spark: SparkSession, tablePath: String): DataFrame = {
    val v = latestVersion(spark, tablePath).getOrElse(
      sys.error(s"no versions at $tablePath"))
    val snapshot = readVersion(spark, tablePath, v)
    if (!snapshot.columns.contains(Tombstone)) snapshot
    else snapshot.filter(!coalesce(col(Tombstone), lit(false)))
  }

  /** The column that marks a row as a tombstone (a deleted key). */
  private val Tombstone = "deleted"

  /** Version `v` of the table, read with the schema Spark recorded in
    * one part file's footer (fetched on the driver), so no
    * footer-inference job runs. One write job produces every part file
    * of a version, so they all share that schema; a footer without
    * Spark's schema key falls back to inference. */
  private def readVersion(spark: SparkSession, tablePath: String, v: Long): DataFrame = {
    val dir = new Path(tablePath, s"v=$v")
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = dir.getFileSystem(conf).listStatus(dir).iterator.map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .flatMap { part =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(part, conf))
        try Option(reader.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
        finally reader.close()
      }
      .map(DataType.fromJson)
      .collect { case s: StructType => s }
    schema.fold(spark.read)(spark.read.schema).parquet(dir.toString)
  }

  /** The footer key under which Spark's parquet writer stores the
    * row schema as JSON. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private val VersionDir = "v=(\\d+)".r

  /** Highest committed version — when merging batch `newVersion`, only
    * versions strictly below it count, so a RETRIED batch that left a
    * partial `v=N` behind re-merges from `v=N-1` and overwrites its own
    * debris (exactly-once on at-least-once delivery).
    *
    * Listed through the Hadoop FileSystem API, so the versioned table
    * works on HDFS/S3A/ABFS paths, not just the local filesystem; and a
    * version only counts once its `_SUCCESS` marker exists (written by
    * the committer after all part files), so a concurrent [[readLatest]]
    * can never observe a half-written snapshot as "latest". Versions
    * are never deleted, so the marker is checked walking down from the
    * highest candidate and stops at the first committed version: the
    * checks per call stay flat as versions accumulate. */
  private def latestVersion(spark: SparkSession, tablePath: String,
                            below: Long = Long.MaxValue): Option[Long] = {
    val path = new Path(tablePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else fs.listStatus(path).toSeq
      .collect { case s if s.isDirectory => s.getPath.getName }
      .collect { case VersionDir(n) => n.toLong }
      .filter(_ < below)
      .sorted(Ordering[Long].reverse)
      .find(v => fs.exists(new Path(path, s"v=$v/_SUCCESS")))
  }
}
