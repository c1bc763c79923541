package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.core.{Calib, Sessions, Tables}
import graft.queries._
import graft.sources.Json
import graft.streaming.StreamingJobs

/** The benchmark's JVM side: one workload in one JVM on `local[cpus]`.
  *
  * Usage (normally started by `perfbench/run.py`):
  * {{{
  * perfbench.Main --workload bootcamp|ingest_stream
  *   --seed N --seconds S --trace 0|1 --cpus N --data DIR --work DIR --out FILE
  * }}}
  * `--data` holds the star-schema tables (`bootcamp`) or the JSON-lines
  * event files (`ingest_stream`); `--work` is a scratch directory the
  * caller deletes; `--out` receives one JSON document of raw
  * measurements that `run.py` turns into metrics.
  *
  * A run sets up five times (session, then first touch of the inputs),
  * warms up (the query workloads' check pass, whose results are kept for
  * the oracle compare; `ingest_stream`'s one-arrival pass), then measures
  * as many whole passes as fit `--seconds` on a 4-core host.
  */
object Main {

  /** The curriculum patterns the reference names, one query each, plus
    * an anti join: fixed per-job latency, not data volume, sets a
    * query's time at this scale (about 0.7 s), so a run affords three
    * passes over eight queries but not one over all 64.
    */
  val bootcamp: Seq[Q] = {
    val names = Set("q7_grouping_sets", "q14_join_anti", "q15_funnel",
      "q22_running_sum", "q30_scd_streaks", "q31_datelist_int",
      "q32_growth_accounting", "q39_cumulative_dim")
    (Relational.all ++ Joins.all ++ Windows.all ++ Patterns.all)
      .filter(q => names(q.name))
  }

  val SetupRounds = 5

  /** A workload: a warm-up that may record what the correctness compare
    * needs into the output, and measured passes numbered from 1.
    * `--seconds` buys `seconds / nominalPassSeconds` passes (at least
    * one); the nominal figure is a pass's length on a 4-core host.
    */
  trait Workload {
    def nominalPassSeconds: Double
    def warmUp(out: J.Obj): Unit
    def pass(p: Int): J.Obj
  }

  final class Ctx(val workload: String, val seed: Long, val cpus: String,
      val data: String, val work: String, val tracer: Tracer,
      var spark: SparkSession)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val tracer = new Tracer(o("trace") == "1")
    val ctx = new Ctx(o("workload"), o("seed").toLong, o("cpus"), o("data"),
      o("work"), tracer, null)
    val out = new J.Obj
    out("workload") = ctx.workload
    out("cpus") = ctx.cpus.toInt

    // set-up, five times; the first includes JVM class loading
    val setups = ArrayBuffer.empty[Double]
    val sessionSecs = ArrayBuffer.empty[Double]
    val loadMs = ArrayBuffer.empty[Double]
    for (_ <- 1 to SetupRounds) {
      if (ctx.spark != null) ctx.spark.stop()
      val op = tracer.newOp()
      val t0 = System.nanoTime()
      val spark = tracer.span("core.sessions.local", op)(
        Sessions.local(ctx.cpus))
      ctx.spark = spark
      sessionSecs += (System.nanoTime() - t0) / 1e9
      if (ctx.workload == "ingest_stream") {
        val first = new File(ctx.data).listFiles().map(_.getPath).min
        tracer.span("sources.json.read", op)(
          Json.read(spark, first, StreamingJobs.webEventSchema).count())
      } else Tables.names.foreach { t =>
        val l0 = System.nanoTime()
        tracer.span("core.tables.load", op)(Tables.load(spark, ctx.data, t))
        loadMs += (System.nanoTime() - l0) / 1e6
      }
      setups += (System.nanoTime() - t0) / 1e9
    }
    val spark = ctx.spark
    out("setup_s") = setups
    out("session_s") = sessionSecs
    out("table_load_ms") = loadMs
    val phases = new J.Obj
    def phase(name: String): Unit = phases(name) =
      ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    phase("setup")
    out("calib_cpu_md5_s") = Calib.cpuMd5()
    out("calib_spark_range_s") = Calib.sparkRange(spark)
    phase("calib")

    val workload: Workload = ctx.workload match {
      case "ingest_stream" => new Ingest(ctx)
      case "bootcamp" => new QueryWorkload(ctx, bootcamp)
    }
    workload.warmUp(out)
    phase("warm_up")

    val exec = new ExecListener(tracer.Key)
    val stream = new StreamListener
    if (tracer.on) {
      spark.sparkContext.addSparkListener(exec)
      spark.streams.addListener(stream)
    }
    // a fixed number of whole passes, so every run does the same work;
    // none for `--seconds 0`, a run that only sets up and warms up
    val seconds = o("seconds").toDouble
    val passes = if (seconds <= 0) 0
      else math.max(1, math.round(seconds / workload.nominalPassSeconds).toInt)
    out("passes") = (1 to passes).map { p =>
      resetListeners(ctx, exec, stream)
      val since = System.nanoTime()
      val rec = workload.pass(p)
      layerFigures(ctx, exec, stream, since, rec)
      rec
    }
    phase("measure")
    if (tracer.on && passes > 0) {
      // one more pass with tracing off, for the tracing overhead
      spark.sparkContext.removeSparkListener(exec)
      spark.streams.removeListener(stream)
      tracer.on = false
      out("untraced_wall_s") = workload.pass(0)("wall_s")
      tracer.on = true
    }
    if (tracer.on) out("spans") = tracer.all.map(s => J.obj(
      "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    out("peak_rss_mb") = peakRssMb()
    out("phase_end_s") = phases
    java.nio.file.Files.writeString(new File(o("out")).toPath, out.render)
    spark.stop()
  }


  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Forgets listener events so far (those of the check pass), once
    * the bus has delivered them, so a pass's figures are its own.
    */
  def resetListeners(ctx: Ctx, exec: ExecListener, stream: StreamListener)
      : Unit = if (ctx.tracer.on) {
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    exec.clear()
    stream.clear()
  }

  /** Per-pass layer figures from the tracer's spans and the listeners,
    * read after the listener bus has drained.
    */
  def layerFigures(ctx: Ctx, exec: ExecListener, stream: StreamListener,
      sinceNs: Long, rec: J.Obj): Unit = if (ctx.tracer.on) {
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    val spans = ctx.tracer.all.filter(_.startNs >= sinceNs)
    val byId = spans.map(s => s.id -> s).toMap
    val byParent = spans.groupBy(_.parent)
    // the layer of a span is its own name; jobs submitted outside any
    // span are "other"
    val layerOf: Int => String = id => byId.get(id).map(_.name).getOrElse("other")
    val spanTimes = J.obj(spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      n -> J.obj("total_s" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(ctx.tracer.selfSeconds(_, byParent)).sum,
        "calls" -> ss.size,
        "per_call_s" -> ss.map(_.seconds))
    }: _*)
    rec("spans") = spanTimes
    exec.synchronized {
      rec("jobs") = J.obj(exec.jobs.groupBy(j => layerOf(j.span)).toSeq
        .map { case (l, js) => l -> js.size }: _*)
      rec("table_load_jobs") =
        exec.jobs.count(_.callSites.contains("Tables.scala"))
      rec("stage_totals") = J.obj(exec.jobs.groupBy(j => layerOf(j.span))
        .toSeq.map { case (l, js) => l -> js.map(_.stages).sum }: _*)
      rec("stages_run") = J.obj(exec.submittedStages.groupBy(layerOf)
        .toSeq.map { case (l, ss) => l -> ss.size }: _*)
      rec("tasks") = J.obj(exec.tasks.groupBy(t => layerOf(t.span)).toSeq
        .map { case (l, ts) => l -> J.obj(
          "count" -> ts.size,
          "run_s" -> ts.map(_.runMs).sum / 1e3,
          "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
          "gc_s" -> ts.map(_.gcMs).sum / 1e3,
          "sched_delay_s" -> ts.map(_.schedDelayMs).sum / 1e3,
          "shuffle_read_mb" -> ts.map(_.shuffleReadB).sum / 1048576.0,
          "shuffle_write_mb" -> ts.map(_.shuffleWriteB).sum / 1048576.0,
          "spill_mb" -> ts.map(_.spillB).sum / 1048576.0,
          "output_mb" -> ts.map(_.outputB).sum / 1048576.0)
        }: _*)
      exec.clear()
    }
    stream.synchronized {
      val bs = stream.batches.toList
      rec("batches") = bs.map(b => J.obj("run" -> b.runId,
        "duration_s" -> b.durationMs / 1e3, "input_rows" -> b.inputRows,
        "state_rows" -> b.stateRows))
      stream.clear()
    }
  }
}
