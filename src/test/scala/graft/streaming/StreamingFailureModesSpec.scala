package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Next-tier streaming failure fixtures beyond CheckpointRecoverySpec:
  * (1) watermark discipline under an out-of-order FLOOD — a burst of
  * ancient events across many fresh keys must be dropped wholesale,
  * reopen nothing, and add zero state rows (the 100 TB concern: a
  * replayed/backfilled topic region must not balloon the state store);
  * (2) a foreachBatch sink that dies mid-epoch on TWO consecutive
  * attempts — exactly-once must survive a retry STORM, not just a
  * single replay.
  */
class StreamingFailureModesSpec extends SparkSpec {
  import spark.implicits._

  private def ev(host: String, t: String) =
    WebEvent("/page", "ref", "ua", host, "1.1.1.1", "{}",
      s"2024-01-01T$t.000Z")

  test("out-of-order flood beyond the watermark: all rows dropped, " +
    "no window reopens, zero state growth") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[WebEvent]
    val q = StreamingJobs.tumblingHostAgg(input.toDF())
      .writeStream.format("memory").queryName("wm_flood")
      .outputMode("append").start()
    try {
      // history: two windows for the live host, then an event at
      // 01:00:00 pushes the watermark to 00:59:45 — every window the
      // flood will target is finalized and its state evicted
      input.addData(Seq(ev("live.com", "00:00:10"),
        ev("live.com", "00:06:00")))
      q.processAllAvailable()
      input.addData(Seq(ev("live.com", "01:00:00")))
      q.processAllAvailable()
      val committedBefore = spark.table("wm_flood").count()
      val stateBefore = q.lastProgress.stateOperators.head.numRowsTotal
      val droppedBefore = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

      // the flood: 200 events, 50 NEW hosts, spread over long-closed
      // windows — a naive operator would open 200 window-key state
      // rows; the watermark must drop every one pre-aggregation
      val flood = for {
        h <- 1 to 50
        t <- Seq("00:01:00", "00:12:00", "00:25:00", "00:43:00")
      } yield ev(s"flood$h.com", t)
      input.addData(flood)
      q.processAllAvailable()

      assert(spark.table("wm_flood").count() == committedBefore,
        "flood re-emitted finalized windows")
      val droppedAfter = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(droppedAfter - droppedBefore == flood.size.toLong,
        s"expected all ${flood.size} flood rows dropped by watermark, " +
          s"got ${droppedAfter - droppedBefore}")
      assert(q.lastProgress.stateOperators.head.numRowsTotal == stateBefore,
        "flood keys leaked into the state store")

      // advance the watermark far past everything: only the live
      // host's open 01:00 window may finalize — nothing of the flood
      input.addData(Seq(ev("live.com", "02:00:00")))
      q.processAllAvailable()
      val hosts = spark.table("wm_flood").select($"host")
        .as[String].collect().toSet
      assert(hosts == Set("live.com"),
        s"flood windows materialized: ${hosts - "live.com"}")
    } finally q.stop()
  }

  test("foreachBatch sink dying mid-epoch on TWO consecutive attempts: " +
    "exactly-once survives the retry storm") {
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory(
      SparkSpec.target, "ckpt_storm").toString
    val out = s"$base/out"
    val ckpt = s"$base/checkpoint"

    @volatile var failuresLeft = 2
    val sink = new StreamingJobs.TransactionalDirSink(out,
      beforeCommit = { epoch =>
        if (epoch == 1 && failuresLeft > 0) {
          failuresLeft -= 1
          throw new RuntimeException(
            s"injected mid-epoch failure ($failuresLeft more to come)")
        }
      })

    val input = MemoryStream[(Long, String)]
    def start() = input.toDF().toDF("id", "v")
      .writeStream
      .foreachBatch((b: Dataset[Row], id: Long) => sink(b.toDF(), id))
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    input.addData(Seq((1L, "a"), (2L, "b")))
    q1.processAllAvailable()            // epoch 0 commits clean
    input.addData(Seq((3L, "c")))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()          // epoch 1, attempt 1: dies
      q1.awaitTermination()
    }
    assert(spark.read.parquet(out).count() == 2,
      "reader between failures must see only committed epochs")

    val q2 = start()                    // replay epoch 1, attempt 2: dies
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination()
    }
    assert(spark.read.parquet(out).count() == 2,
      "second failure leaked partial output")

    val q3 = start()                    // attempt 3 succeeds
    q3.processAllAvailable()
    q3.stop()
    assert(failuresLeft == 0, "the fault injector must have fired twice")
    val got = spark.read.parquet(out)
      .select($"id", $"v").as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"exactly-once violated across the retry storm: $got")
  }
}
