package graft

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics

/** The one dev harness (not part of the SparkEntry surface). Every timed
  * mode goes through [[Bench.measure]] — the benchmark's own warm-up,
  * settle and median-of-passes loop — so a probe number and a Bench
  * number are the same measurement of one query.
  *
  * `runMain graft.Probe <mode> <sfDir> <query>...`, cores from
  * `SPARK_GRAFT_CPUS` and passes from `SPARK_GRAFT_BENCH_RUNS`, as
  * for Bench. Modes:
  *  - `time`: each query's median and per-pass wall times;
  *  - `prof`: per-stage SparkListener report over the timed passes —
  *    stages sorted by duration with the head of their callsite, the
  *    straggler anatomy (longest task's GC/CPU, median task) and the
  *    summed executor deserialize time, plus the codegen compilations
  *    the timed passes made;
  *  - `plan`: the formatted physical plan, `explain("formatted")`;
  *  - `anchor`: a solo steady-state snapshot in the
  *    [[BenchFormat.fullJson]] schema, written to
  *    `$SPARK_GRAFT_BENCH_FULL` (tools/make_anchor.py sets it). Two
  *    anchors from different rounds feed preflight stage 5's
  *    engine-drift gate without in-sweep contention.
  */
object Probe {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: runMain graft.Probe time|prof|plan|anchor <sfDir> <query>...")
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), logLevel = "ERROR")
    try run(spark, args(0), args(1), args.drop(2).toSeq,
      sys.env.get("SPARK_GRAFT_BENCH_FULL"))
    finally spark.stop()
  }

  def run(spark: org.apache.spark.sql.SparkSession, mode: String,
      sfDir: String, names: Seq[String], out: Option[String]): Unit = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")
    mode match {
      case "plan" =>
        names.foreach(q => queries(q)(spark, sfDir).explain("formatted"))
      case "time" =>
        val t = Bench.measure(spark, sfDir, names)
        t.medians.zip(t.passes).foreach { case ((q, med), (_, ts)) =>
          if (ts.isEmpty) println(s"[time] $q failed every pass")
          else println(f"[time] $q median $med%.3f s (passes " +
            ts.map(x => f"$x%.3f").mkString(" ") + ")")
        }
      case "prof" => prof(spark, sfDir, names)
      case "anchor" =>
        val path = out.getOrElse(throw new IllegalArgumentException(
          "anchor mode writes its snapshot to $SPARK_GRAFT_BENCH_FULL"))
        val t = Bench.measure(spark, sfDir, names.sorted)
        val json = BenchFormat.fullJson(t.medians, t.total, t.runs,
          t.calibCpu, t.calibSpark, t.errors, sfDir)
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[anchor] wrote ${names.size} solo medians to $path " +
          f"(calib cpu=${t.calibCpu}%.3f spark=${t.calibSpark}%.3f)")
      case other => throw new IllegalArgumentException(
        s"unknown mode '$other' (time|prof|plan|anchor)")
    }
  }

  private final case class St(id: Int, name: String, ms: Long,
      tasks: Int, inMb: Double, shrMb: Double, shwMb: Double,
      maxTaskMs: Long, maxGcMs: Long, maxCpuMs: Long, medTaskMs: Long,
      deserMs: Long)

  /** Per-stage profile (guide §7.1 without the UI): every stage's wall
    * time, task count and input/shuffle volumes over the timed passes
    * — the "which operator owns the time" answer an end-to-end number
    * can't give. Two fixed costs a task pays before it runs are shown
    * too: the Janino compilations (`CodegenMetrics`, counted from the
    * first timed job's start) and each stage's summed executor
    * deserialize time.
    */
  private def prof(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, names: Seq[String]): Unit = {
    val stages = mutable.ArrayBuffer.empty[St]
    val maxTask = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    // straggler anatomy: per stage keep the longest task's GC and CPU
    // time plus the median task duration, so a maxT≈stage stage can be
    // attributed (skewed data vs GC pause vs codegen-compile-in-task)
    val maxGc = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val maxCpu = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val durs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    @volatile var compiles0 = -1L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (compiles0 < 0) compiles0 = compiles
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val d = te.taskInfo.duration
        durs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += d
        if (d > maxTask(te.stageId)) {
          maxTask(te.stageId) = d
          Option(te.taskMetrics).foreach { m =>
            maxGc(te.stageId) = m.jvmGCTime
            maxCpu(te.stageId) = m.executorCpuTime / 1000000L
          }
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        val i = sc.stageInfo
        val ms = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        val m = i.taskMetrics
        // first query frame in the callsite stack beats the generic
        // "withThreadLocalCaptured" every AQE-materialized stage gets;
        // a barrier's long form leads with its own frame
        val site = (i.name.linesIterator.take(1).toSeq ++
          i.details.linesIterator.find(l => l.contains("graft.") &&
            !l.contains("graft.Bench") && !l.contains("graft.Probe") &&
            !l.contains("graft.core.Barrier")))
          .mkString(" | ").trim
        val ds = durs.getOrElse(i.stageId,
          mutable.ArrayBuffer.empty[Long]).sorted
        stages += St(i.stageId, site, ms, i.numTasks,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          maxTask(i.stageId), maxGc(i.stageId), maxCpu(i.stageId),
          if (ds.nonEmpty) ds(ds.size / 2) else 0L,
          m.executorDeserializeTime)
      }
    }
    val t = Bench.measure(spark, sfDir, names, Some(listener))
    t.medians.foreach { case (q, med) =>
      println(f"[prof] $q median $med%.3f s")
    }
    val total = stages.map(_.ms).sum
    println(f"[prof] stage-time sum ${total / 1e3}%.3f s over " +
      f"${stages.size} stages, ${stages.map(_.tasks).sum} tasks " +
      f"(across ${t.runs} passes)")
    val compiled = if (compiles0 < 0) 0L else compiles - compiles0
    println(s"[prof] codegen compilations $compiled, " +
      f"executor deserialize ${stages.map(_.deserMs).sum / 1e3}%.3f s " +
      "(summed over tasks)")
    stages.sortBy(-_.ms).take(40).foreach { s =>
      println(f"[prof] ${s.ms}%6d ms  ${s.tasks}%4d tasks  " +
        f"maxT=${s.maxTaskMs}%5d medT=${s.medTaskMs}%5d " +
        f"gc=${s.maxGcMs}%4d cpu=${s.maxCpuMs}%5d deser=${s.deserMs}%5d  " +
        f"in=${s.inMb}%7.1f  sr=${s.shrMb}%7.1f  sw=${s.shwMb}%7.1f  " +
        s"#${s.id} ${s.name.linesIterator.next().take(90)}")
    }
  }
}
