package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.core.Models._

case class CsvDevice(device_id: Long, browser_type: String,
    os_type: Option[String], device_type: String)

/** CSV ingest (S1/S2) + the typed Dataset pipeline (J13/S2:
  * `DatasetApi.ipynb:185-243` — read→typed filter→joinWith→map).
  */
class CsvAndTypedSpec extends SparkSpec {
  import spark.implicits._

  private lazy val csvPath = {
    val dir = SparkSpec.target.resolve("tmp-csv")
    Files.createDirectories(dir)
    val f = dir.resolve("devices.csv")
    Files.writeString(f,
      """device_id,browser_type,os_type,device_type
        |1,Chrome,Linux,desktop
        |2,Firefox,,mobile
        |3,Safari,macOS,desktop
        |""".stripMargin)
    f.toString
  }

  private val deviceSchema = StructType(Seq(
    StructField("device_id", LongType),
    StructField("browser_type", StringType),
    StructField("os_type", StringType),
    StructField("device_type", StringType)))

  test("inferred CSV read picks up header and types") {
    val df = Csv.readInferred(spark, csvPath)
    assert(df.columns.toSeq ==
      Seq("device_id", "browser_type", "os_type", "device_type"))
    assert(df.schema("device_id").dataType == IntegerType)
    assert(df.count() == 3)
  }

  test("explicit-schema CSV read preserves declared types and nulls") {
    val df = Csv.read(spark, csvPath, deviceSchema)
    assert(df.schema("device_id").dataType == LongType)
    assert(df.filter($"os_type".isNull).count() == 1)
  }

  test("typed CSV read: readAs with Option nullability") {
    val ds = Csv.readAs[CsvDevice](spark, csvPath, deviceSchema)
    val rows = ds.collect().sortBy(_.device_id)
    assert(rows.map(_.device_id).toSeq == Seq(1L, 2L, 3L))
    assert(rows(1).os_type.isEmpty && rows(0).os_type.contains("Linux"))
  }

  test("typed pipeline: as[T], typed filter, joinWith, map") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet").as[Order]
    val customers =
      spark.read.parquet(s"$sfDir/customer.parquet")
        .withColumn("c_custkey", $"c_custkey".cast("long"))
        .as[Customer]

    val bigOrders = orders.filter(_.o_totalprice > 1000.0)
    val joined = bigOrders.joinWith(customers,
      bigOrders("o_custkey") === customers("c_custkey"), "inner")
    val typed = joined.map { case (o, c) =>
      OrderWithCustomer(o.o_orderkey, o.o_totalprice, c.c_name,
        c.c_mktsegment.toLowerCase)
    }
    val n = typed.count()
    assert(n > 0 && n ==
      spark.read.parquet(s"$sfDir/orders.parquet")
        .filter($"o_totalprice" > 1000.0)
        .join(spark.read.parquet(s"$sfDir/customer.parquet"),
          $"o_custkey" === $"c_custkey").count())
    val row = typed.head()
    assert(row.segment == row.segment.toLowerCase)
  }

  test("Option[_] enforces nullability in typed reads") {
    val events = graft.core.Tables.load(spark, sfDir, "events").as[Event]
    assert(events.filter(_.user_id.isDefined).count() == events.count())
    // typed aggregation over the Dataset
    val byType = events.groupByKey(_.event_type).count().collect().toMap
    assert(byType.values.sum == events.count())
  }
}
