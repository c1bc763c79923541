package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

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
    val sc = spark.sparkContext
    val group = s"tables-load-${System.nanoTime}"
    val sentinel = "tables-load-sentinel"
    val loadJobs = new AtomicInteger
    @volatile var sentinelId = -1
    val sentinelDone = new CountDownLatch(1)
    // the bus delivers events in order, so once the sentinel's end
    // arrives every job the loads started has been counted
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == sentinel)
            sentinelId = e.jobId
          else loadJobs.incrementAndGet()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelId) sentinelDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Tables.load")
      Tables.names.foreach(n => Tables.load(spark, sfDir, n))
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelDone.await(60, TimeUnit.SECONDS), "sentinel never ended")
      assert(loadJobs.get == 0,
        s"loading ${Tables.names.size} tables started ${loadJobs.get} jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
