package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSON-lines ingest/egress (the event-stream interchange format the
  * reference's Kafka topics carry — `start_job.py:83-113` reads JSON
  * records; this is the batch-file form of the same payloads).
  *
  * Same schema discipline as [[Csv]]: explicit `StructType` for
  * production reads — JSON inference costs a full extra pass AND
  * widens types by whatever happens to be present (an all-int sample
  * infers long, one stray decimal flips it to double — schema drift
  * at 100 TB); `mode=FAILFAST` surfaces malformed records instead of
  * silently nulling them (`PERMISSIVE`'s default), the same
  * quarantine stance as `functions/Validate`.
  */
object Json {

  /** Exploratory read: schema inference (extra pass — notebook use). */
  def readInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Production read: explicit schema, fail on malformed records. */
  def read(spark: SparkSession, path: String, schema: StructType)
      : DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** JSON-lines write (one object per line, gzip-friendly). */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
