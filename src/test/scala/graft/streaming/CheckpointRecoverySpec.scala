package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** F7: checkpoint-based recovery. A file-sink query is stopped and
  * restarted against the same checkpoint; already-committed batches
  * must not be re-emitted (exactly-once to the file sink).
  */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._

  test("restart from checkpoint neither loses nor duplicates batches") {
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory(
      SparkSpec.target, "ckpt").toString
    val out = s"$base/out"
    val ckpt = s"$base/checkpoint"

    val input = MemoryStream[(Long, String)]
    def start() = input.toDF().toDF("id", "v")
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    input.addData(Seq((1L, "a"), (2L, "b")))
    q1.processAllAvailable()
    q1.stop()

    // data queued while "down", then restart against same checkpoint
    input.addData(Seq((3L, "c")))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out).as[(Long, String)]
      .collect().sorted.toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"exactly-once violated: $got")
  }

  test("mid-batch crash between staging write and commit: restart " +
    "replays the epoch with no loss, no duplicates, no partial reads") {
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory(
      SparkSpec.target, "ckpt_mid").toString
    val out = s"$base/out"
    val ckpt = s"$base/checkpoint"

    // fault injector: the FIRST attempt at epoch 1 dies after the
    // staging parquet is fully written but before the atomic rename —
    // the exact window where a naive sink would double-write on replay
    @volatile var armed = true
    val sink = new StreamingJobs.TransactionalDirSink(out,
      beforeCommit = { epoch =>
        if (epoch == 1 && armed) {
          armed = false
          throw new RuntimeException("injected mid-batch crash")
        }
      })

    val input = MemoryStream[(Long, String)]
    def start() = input.toDF().toDF("id", "v")
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], id: Long) => sink(b.toDF(), id))
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    input.addData(Seq((1L, "a"), (2L, "b")))
    q1.processAllAvailable()          // epoch 0 commits clean
    input.addData(Seq((3L, "c")))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()        // epoch 1 crashes mid-batch
      q1.awaitTermination()
    }
    assert(!q1.isActive)

    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(out, "_staging-1")),
      "crash must leave the staging dir behind")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(out, "epoch=1")),
      "nothing may commit before the rename")
    // a reader between crash and restart sees ONLY committed epochs —
    // the half-written staging dir is invisible, not a torn read
    assert(spark.read.parquet(out).count() == 2)

    val q2 = start()                  // replay against same checkpoint
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out)
      .select(col("id"), col("v")).as[(Long, String)]
      .collect().sorted.toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"exactly-once violated across the mid-batch crash: $got")
  }

  test("windowed-aggregation STATE survives a restart: an open " +
    "window accumulates across the stop, finalized windows never " +
    "re-emit") {
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory(
      SparkSpec.target, "ckpt_state").toString
    val out = s"$base/out"
    val ckpt = s"$base/checkpoint"
    def ev(host: String, t: String): WebEvent =
      WebEvent(s"https://$host/x", "", "UA", host, "1.1.1.1", "{}",
        s"2024-01-01T$t.000Z")

    val input = MemoryStream[WebEvent]
    def start() = StreamingJobs.tumblingHostAgg(input.toDF())
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // window W1 [00:00,00:05) gets 2 hits; W2 [00:05,00:10) opens
    // with 1 hit and (at +15s watermark delay) pushes the watermark
    // past W1's end → W1 finalizes and is WRITTEN before the stop
    val q1 = start()
    input.addData(Seq(ev("a.com", "00:00:10"), ev("a.com", "00:01:00"),
      ev("a.com", "00:05:30")))
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(out).count() == 1,
      "W1 must finalize before the crash")

    // "crash": more W2 hits queue while down; the restarted query
    // must resume W2's count = 1 FROM THE STATE STORE, not from 0,
    // and must not re-emit the already-committed W1 row
    input.addData(Seq(ev("a.com", "00:06:00"), ev("a.com", "00:07:00"),
      ev("a.com", "00:10:30"))) // last row advances watermark past W2
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out)
      .select($"event_hour".cast("string"), $"host", $"num_hits")
      .as[(String, String, Long)].collect().sorted.toSeq
    assert(got == Seq(
      ("2024-01-01 00:00:00", "a.com", 2L),
      ("2024-01-01 00:05:00", "a.com", 3L)),
      s"state must carry the pre-crash W2 hit across restart " +
        s"and W1 must appear exactly once: $got")
  }
}
