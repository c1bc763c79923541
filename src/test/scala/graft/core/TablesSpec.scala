package graft.core

import graft.SparkSpec

/** S4: temp-view registration + SQL over the registered catalog, and
  * the declared-schema contract of [[Tables.load]].
  */
class TablesSpec extends SparkSpec {

  test("registerAll exposes every synthetic table to spark.sql") {
    Tables.registerAll(spark, sfDir)
    Tables.names.foreach { n =>
      assert(spark.catalog.tableExists(n), s"view $n missing")
    }
    val row = spark.sql(
      """SELECT r_name, COUNT(*) AS n
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin).collect()
    assert(row.length == 5 && row.map(_.getLong(1)).sum > 0)
  }

  test("events view carries the converted microsecond timestamp") {
    Tables.registerAll(spark, sfDir)
    val t = spark.sql("SELECT ts FROM events LIMIT 1").schema.head
    assert(t.dataType.typeName == "timestamp")
  }

  test("every declared schema equals the parquet footer's at sf0.001, " +
    "sf0.01 and sf0.1") {
    val drift = for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      n <- Tables.names
      inferred = spark.read.parquet(s"/root/testdata/$sf/$n.parquet").schema
      if inferred != Tables.schemas(n)
    } yield s"$sf/$n: footer ${inferred.simpleString} != declared " +
      Tables.schemas(n).simpleString
    assert(drift.isEmpty, drift.mkString("\n"))
  }

  test("loading every table starts no Spark job") {
    val (_, rec) = Trace(spark, "Tables.load")(
      Tables.names.foreach(n => Tables.load(spark, sfDir, n)))
    assert(rec.jobs.isEmpty,
      s"loading ${Tables.names.size} tables started ${rec.jobs.size} jobs")
  }
}
