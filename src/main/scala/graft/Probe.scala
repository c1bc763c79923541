package graft

/** The one dev harness (not part of the SparkEntry surface). Every timed
  * mode goes through [[Bench.measure]] — the benchmark's own warm-up,
  * settle and median-of-passes loop — so a probe number and a Bench
  * number are the same measurement of one query.
  *
  * `runMain graft.Probe <mode> <sfDir> <query>...`, cores from
  * `SPARK_GRAFT_CPUS` and passes from `SPARK_GRAFT_BENCH_RUNS`, as
  * for Bench. Modes:
  *  - `time`: each query's median and per-pass wall times;
  *  - `prof`: per-stage report over the timed passes, read from their
  *    [[core.Trace]] records — stages sorted by duration with the head
  *    of their callsite, the straggler anatomy (longest task's GC/CPU,
  *    median task) and the summed executor deserialize time, plus the
  *    codegen compilations the timed passes made;
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
          t.calibCpu, t.calibSpark, t.errors, sfDir, t.records)
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[anchor] wrote ${names.size} solo medians to $path " +
          f"(calib cpu=${t.calibCpu}%.3f spark=${t.calibSpark}%.3f)")
      case other => throw new IllegalArgumentException(
        s"unknown mode '$other' (time|prof|plan|anchor)")
    }
  }

  /** Per-stage profile (guide §7.1 without the UI): every stage's wall
    * time, task count and input/shuffle volumes over the timed passes
    * — the "which operator owns the time" answer an end-to-end number
    * can't give. Two fixed costs a task pays before it runs are shown
    * too: the Janino compilations made while the timed calls ran and
    * each stage's summed executor deserialize time. The straggler
    * anatomy (longest task's GC and CPU, median task) tells a skewed
    * stage from a GC pause or a compile inside a task.
    */
  private def prof(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, names: Seq[String]): Unit = {
    val t = Bench.measure(spark, sfDir, names)
    t.medians.foreach { case (q, med) =>
      println(f"[prof] $q median $med%.3f s")
    }
    val rec = t.records.map(_._2).foldLeft(core.Trace.Record.empty)(_ ++ _)
    val stages = rec.stages
    val total = stages.map(_.ms).sum
    println(f"[prof] stage-time sum ${total / 1e3}%.3f s over " +
      f"${stages.size} stages, ${rec.tasks} tasks " +
      f"(across ${t.runs} passes)")
    println(s"[prof] codegen compilations ${rec.compilations}, " +
      f"executor deserialize ${stages.map(_.deserializeMs).sum / 1e3}%.3f s " +
      "(summed over tasks)")
    stages.sortBy(-_.ms).take(40).foreach { s =>
      val maxT = s.taskMs.lastOption.getOrElse(0L)
      val medT = if (s.taskMs.isEmpty) 0L else s.taskMs(s.taskMs.size / 2)
      println(f"[prof] ${s.ms}%6d ms  ${s.tasks}%4d tasks  " +
        f"maxT=$maxT%5d medT=$medT%5d " +
        f"gc=${s.maxTaskGcMs}%4d cpu=${s.maxTaskCpuMs}%5d " +
        f"deser=${s.deserializeMs}%5d  " +
        f"in=${s.inputBytes / 1e6}%7.1f  " +
        f"sr=${s.shuffleReadBytes / 1e6}%7.1f  " +
        f"sw=${s.shuffleWriteBytes / 1e6}%7.1f  " +
        s"#${s.id} ${site(s).take(90)}")
    }
  }

  /** A stage's name plus the first query frame of its call site: that
    * frame beats the generic "withThreadLocalCaptured" every
    * AQE-materialized stage gets; a barrier's long form leads with its
    * own frame, and the timing loop's frames name no query. */
  private def site(s: core.Trace.Stage): String =
    (s.name.linesIterator.take(1).toSeq ++
      s.details.linesIterator.find(l => l.contains("graft.") &&
        !HarnessFrames.exists(l.contains)))
      .mkString(" | ").trim

  private val HarnessFrames = Seq("graft.Bench", "graft.Probe",
    "graft.Gwin", "graft.core.Barrier", "graft.core.Trace")
}
