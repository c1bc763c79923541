package graft.sources

import java.net.URI
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Write-side surface (SURVEY §2.1 S5–S8): managed-table sinks,
  * partitioned writes (the explicit-derived-column emulation of
  * Iceberg's hidden `years(col)` partitioning), 16-bucket sorted
  * bucketing for shuffle-free joins, and ORC/Parquet format choice.
  *
  * Scale notes: bucketed+sorted tables are THE co-location tool — a
  * join of two tables bucketed 16 ways on the same key plans as a
  * sort-merge join with zero Exchange (verified by SinksSpec via the
  * physical plan). Daily pipelines that repeatedly join on one key
  * should pay the bucketing shuffle once at write time.
  */
object Sinks {

  /** Managed-table write (reference S5: `.saveAsTable`). */
  def saveTable(df: DataFrame, name: String,
      format: String = "parquet",
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.format(format).mode(mode).saveAsTable(name)

  /** Partitioned write on a derived column (reference S6: Iceberg
    * `PARTITIONED BY (years(event_date))` emulated with an explicit
    * year column — `event_data_pyspark.ipynb:384-391`).
    */
  def savePartitioned(df: DataFrame, name: String,
      partitionCols: Seq[String],
      format: String = "parquet"): Unit =
    df.write.format(format).mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).saveAsTable(name)

  /** Bucketed + sorted write (reference S7:
    * `.bucketBy(16,"match_id").sortBy("match_id").saveAsTable` —
    * `assignment_3_spark.py:36-53`).
    */
  def saveBucketed(df: DataFrame, name: String, key: String,
      buckets: Int = 16, format: String = "parquet"): Unit =
    df.write.format(format).mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key).saveAsTable(name)

  /** Small-file compaction — the table-maintenance pass a streaming or
    * micro-batch ingest needs periodically: thousands of KB-sized
    * files (one per epoch × partition) make every downstream scan pay
    * a task per file and every footer a round trip. Rewrite the table
    * into `ceil(bytes / targetFileBytes)` files via a round-robin
    * repartition (even sizes without a shuffle key), cut at a
    * [[graft.core.Barrier]], then overwrite the table from the cut in
    * one write — the same idempotent-rewrite stance as
    * [[graft.operators.Upsert.overwritePartitions]].
    *
    * The barrier materializes the rows before the overwrite drops the
    * files its plan would read: locally in the block manager, and
    * under any other master in Spark's checkpoint dir, so losing an
    * executor mid-rewrite loses nothing.
    *
    * Returns (files_before, files_after). At 100 TB the same call
    * runs per PARTITION (compact recent partitions only) — whole-table
    * compaction is the bounded local form.
    *
    * Known fault: the rewrite has no `partitionBy`, so a table written
    * by [[savePartitioned]] comes back unpartitioned (the partition
    * column moves into the files). The benchmark's oracle reads each
    * compacted table's parquet files flat, so the fix waits for a
    * benchmark change.
    */
  def compact(spark: SparkSession, name: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    val (bytes, filesBefore) = tableStats(spark, name)
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1)
      / targetFileBytes).toInt
    graft.core.Barrier(spark.table(name).repartition(nFiles))
      .write.mode("overwrite").format("parquet").saveAsTable(name)
    (filesBefore, tableStats(spark, name)._2)
  }

  /** Table size/file-count measurement (reference S13/X6: the
    * storage-efficiency method — Iceberg `.files` scan, emulated by
    * walking the table location like the reference's own fallback,
    * `assignment_3_spark.py:152-161`). Files whose name starts with
    * `_` (`_SUCCESS`, commit markers) are not counted.
    *
    * The walk uses `listStatus`, not `listFiles`: the latter builds a
    * `LocatedFileStatus` per file, which on the local filesystem reads
    * the permission with one `ls -ld` process each.
    */
  def tableStats(spark: SparkSession, name: String): (Long, Long) = {
    val location = tableLocation(spark, name)
    val fs = FileSystem.get(location, spark.sparkContext.hadoopConfiguration)
    def walk(dir: Path): (Long, Long) =
      fs.listStatus(dir).foldLeft((0L, 0L)) { case ((bytes, files), f) =>
        if (f.isDirectory) {
          val (b, n) = walk(f.getPath)
          (bytes + b, files + n)
        } else if (f.getPath.getName.startsWith("_")) (bytes, files)
        else (bytes + f.getLen, files + 1)
      }
    walk(new Path(location))
  }

  /** A table's location, read from the session catalog (no query). */
  def tableLocation(spark: SparkSession, name: String): URI =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(name)).location
}
