package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import graft.sources.{Json, Sinks}
import graft.streaming.StreamingJobs

/** The `ingest_stream` workload, a closed loop over arrivals: each
  * JSON-lines file is read (explicit schema, FAILFAST) and appended to a
  * parquet landing area, then each `StreamingJobs` drain processes what
  * arrived. The sink drain is throttled to one file per micro-batch and
  * writes each batch with `Sinks.savePartitioned`; after the last
  * arrival `Sinks.compact` rewrites every sink table. An operation is
  * one arrival: its landing and the four drains that process it.
  */
final class Ingest(ctx: Main.Ctx) extends Main.Workload {

  def nominalPassSeconds: Double = 10

  val Drains: Seq[(String, DataFrame => DataFrame)] = Seq(
    "processed" -> StreamingJobs.processedEvents,
    "tumbling" -> StreamingJobs.tumblingHostAgg,
    "sessions" -> (df => StreamingJobs.sessionize(df)))

  private val files = new File(ctx.data).listFiles().map(_.getPath)
    .filter(_.endsWith(".json")).sorted.toSeq

  /** A pass over the first arrival only. */
  def warmUp(out: J.Obj): Unit = run(files.take(1), "warm")

  /** Every arrival, into fresh directories and tables; the outputs are
    * kept for the correctness compare.
    */
  def pass(p: Int): J.Obj = run(files, s"p$p")

  private def run(files: Seq[String], tag: String): J.Obj = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val root = s"${ctx.work}/$tag"
    val landing = s"$root/landing"
    val tables = ArrayBuffer.empty[String]
    val ops = ArrayBuffer.empty[J.Obj]
    val since = System.nanoTime()
    val cpu0 = Main.cpuSeconds()
    files.foreach { f =>
      val op = tracer.newOp()
      val s0 = System.nanoTime()
      val ok = try {
        tracer.span("sources.json.read", op)(
          Json.read(spark, f, StreamingJobs.webEventSchema)
            .write.mode("append").parquet(landing))
        Drains.foreach { case (name, transform) =>
          tracer.span("streaming.drain", op)(StreamingJobs.incrementalDrain(
            spark, landing, s"$root/checkpoints/$name", s"$root/out/$name",
            transform))
        }
        tracer.span("streaming.drain", op) {
          val parent = tracer.current
          StreamingJobs.throttledFileDrain(spark, landing,
            s"$root/checkpoints/sink", 1, (batch, epoch) =>
              tracer.adopt(parent)(tracer.span("sources.sinks.write", op) {
                val t = s"${tag}_events_b$epoch"
                Sinks.savePartitioned(batch, t, Seq("host"))
                tables.synchronized(tables += t)
              }))
        }
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] arrival $f failed: ${e.getMessage}")
        false
      }
      ops += J.obj("name" -> "arrival", "s" -> (System.nanoTime() - s0) / 1e9,
        "ok" -> ok)
    }
    var filesBefore, filesAfter = 0L
    tables.foreach { t =>
      val (b, a) = tracer.span("sources.sinks.compact", tracer.newOp())(
        Sinks.compact(spark, t))
      filesBefore += b
      filesAfter += a
    }
    J.obj("wall_s" -> (System.nanoTime() - since) / 1e9,
      "cpu_s" -> (Main.cpuSeconds() - cpu0), "ops" -> ops.toList,
      "root" -> root, "tables" -> tables.toList.sorted,
      "input_bytes" -> files.map(new File(_).length).sum,
      "files_before" -> filesBefore, "files_after" -> filesAfter)
  }

}
