package graft.core

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.SparkSpec
import graft.streaming.StreamingJobs

/** [[Sessions.common]]'s class-loader contract: every session's tasks
  * share the executor's default class loader, so the codegen cache
  * (keyed by class loader and code) serves code one session compiled
  * to the next. With session artifact isolation on, each cloned
  * streaming session and each `newSession()` compiles its executor
  * classes again.
  */
class SessionsSpec extends SparkSpec {

  /** The codegen compilations `body` makes. */
  private def compilations(body: => Unit): Long =
    Trace(spark, "sessions")(body)._2.compilations

  test("a second AvailableNow drain compiles nothing") {
    val base = Files.createTempDirectory("graft_sessions_drain").toString
    val landing = s"$base/landing"
    spark.createDataFrame(
      (0 until 40).map(i => Row("/p", "ref", "ua", s"h${i % 3}.com",
        s"10.0.0.${i % 5}", "{}", f"2024-01-01T00:${i % 60}%02d:00.000Z"))
        .asJava,
      StreamingJobs.webEventSchema).write.parquet(landing)
    def drain(run: String): Unit =
      StreamingJobs.incrementalDrain(spark, landing, s"$base/ckpt$run",
        s"$base/out$run", StreamingJobs.processedEvents)
    drain("1")
    val compiled = compilations(drain("2"))
    assert(compiled == 0,
      s"the second drain compiled $compiled classes")
    assert(spark.read.parquet(s"$base/out2").count() == 40)
  }

  test("a query run again in a new session compiles nothing") {
    def query(s: org.apache.spark.sql.SparkSession): Set[Row] =
      s.range(0, 1000, 1, 4)
        .selectExpr("id % 7 AS k", "id * 3 AS v")
        .groupBy("k").sum("v")
        .collect().toSet
    val expected = query(spark)
    val compiled =
      compilations(assert(query(spark.newSession()) == expected))
    assert(compiled == 0,
      s"the new session compiled $compiled classes")
  }
}
