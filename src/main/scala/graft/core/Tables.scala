package graft.core

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * All engine queries take a scale-factor directory (e.g.
  * `/root/testdata/sf0.01`) and read one parquet file per table.
  * [[schemas]] is the one declaration of the ten tables' columns, and
  * every read passes it to `spark.read.schema(...)`, so loading a
  * table starts no schema-inference job (Spark otherwise reads the
  * parquet footers in a job per load). Each declared schema equals
  * the one Spark infers from the footers (TablesSpec checks this at
  * every scale factor); plans, filter pushdown, column pruning and
  * split sizing are the same as with an inferred read, and at 100 TB
  * the same call reads a multi-file partitioned layout unchanged.
  */
object Tables {
  private def table(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** The driver tables in TESTDATA.md order. Parquet int32 → Int,
    * int64 → Long, timestamp[us] (not UTC-adjusted) → TimestampNTZ,
    * list<float> → Array[Float]; every column nullable.
    */
  val schemas: ListMap[String, StructType] = ListMap(
    "region" -> table(
      "r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> table(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> table(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> table(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> table(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> table(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> table(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> table(
      "event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> table(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> table(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))

  val names: Seq[String] = schemas.keys.toSeq

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")
    // events.ts is wall-clock TIMESTAMP_NTZ; the cast reinterprets it in
    // the session zone (every entry point pins UTC, so values are kept)
    if (name == "events") df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }

  /** Load + round-robin repartition to the session's parallelism.
    *
    * For queries whose cost is per-row compute (minhash, simhash,
    * cosine folds, regex tokenization), not I/O: the local test files
    * are single-row-group parquet, so the scan is one task and the
    * expensive projection would run single-threaded. The repartition
    * is a tiny shuffle (MBs) that unlocks full-width execution. On a
    * real cluster the input arrives as thousands of splits and this
    * becomes a cheap rebalance against skewed file sizes.
    */
  def loadParallel(spark: SparkSession, dir: String, name: String)
      : DataFrame =
    load(spark, dir, name)
      .repartition(spark.sparkContext.defaultParallelism)

  /** Register every table as a temp view (reference pattern S4:
    * `df.createOrReplaceTempView` then SQL — see SURVEY §2.1).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
