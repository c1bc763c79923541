package graft

import org.apache.logging.log4j.core.{Filter, LogEvent}
import org.apache.logging.log4j.core.filter.AbstractFilter

object Bench {

  /** Run `f` with the global-window warning muted — ONLY for queries
    * [[Gwin]] declares (final-plan windows in `Gwin.LedgerBounds`, or
    * eager ones in `Gwin.EagerGwinAllowed`). Their warnings are
    * indistinguishable in the log from a real scale-killer's, so
    * muting them makes a NEW unbounded-window warning stand out in
    * the bench tail instead of drowning among the known-benign ones.
    *
    * Muted by message CONTENT, not logger level (r11 ADVICE): a
    * log4j2 filter drops exactly the "No Partition Defined" text, so
    * a different WindowExec warning from an allowlisted query still
    * surfaces — the same discrimination QueriesSmokeSpec's warning
    * sweep applies.
    */
  private[graft] def muteGwinWarnings[A](mute: Boolean)(f: => A): A =
    if (!mute) f
    else Gwin.filtered(new AbstractFilter(Filter.Result.DENY,
        Filter.Result.NEUTRAL) {
      override def filter(event: LogEvent): Filter.Result =
        if (event.getMessage.getFormattedMessage
            .contains(Gwin.WarningText)) Filter.Result.DENY
        else Filter.Result.NEUTRAL
    }, level = None)(f)

  /** What [[measure]] observed: each query's successful pass times in
    * pass order (empty = failed every pass), the passes run, the
    * host-speed calibration pair taken after warm-up, and what Spark
    * ran for each query over its successful passes (its [[core.Trace]]
    * records, joined).
    */
  final case class Timing(passes: Seq[(String, List[Double])], runs: Int,
      calibCpu: Double, calibSpark: Double,
      records: Seq[(String, graft.core.Trace.Record)]) {

    /** Per-query median; -1 sentinel for a query that failed in EVERY
      * pass, so a crash is never mistaken for a fast success. */
    def medians: Seq[(String, Double)] = passes.map { case (q, ts) =>
      val s = ts.sorted
      q -> (if (s.isEmpty) -1.0
        else if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2)
    }

    def errors: Seq[String] = passes.collect { case (q, Nil) => q }

    def total: Double = medians.map(_._2).filter(_ >= 0).sum
  }

  /** The one warm-up + timing loop ([[main]] and [[Probe]] share it):
    * warm every query at sf0.001, settle, calibrate the host, then
    * time `SPARK_GRAFT_BENCH_RUNS` (default 3) alternating passes over
    * `names` at `sfDir`. Each timed call runs in a [[core.Trace]] keyed
    * by its query's name; the timed span is the call alone, without the
    * trace's bus drain.
    */
  def measure(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      names: Seq[String]): Timing = {
    val fns = SparkEntry.queries
    // warmup: run EVERY query once at the smallest SF. The schemas are
    // identical across SFs, so each query's generated code and JIT'd
    // hot loops are exactly the ones the measured run executes —
    // first-run numbers otherwise carry 2-5 s of Janino compilation
    // and interpreter-mode execution that no steady-state deployment
    // would see.
    // warmup runs 8 queries at a time — Spark schedules concurrent
    // jobs from separate threads fine, and the tiny sf0.001 jobs
    // underutilize local[32] one at a time
    val warmDir = "/root/testdata/sf0.001"
    // warmup is 8-way concurrent, so per-query mute scoping is
    // impossible here — mute globally for its duration; a real
    // scale-killer's warning still surfaces unmuted in the measured
    // passes below
    muteGwinWarnings(mute = true) {
      graft.core.Par.sweep8(names) { q =>
        try fns(q)(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    // settle before measuring: the warmup leaves cached plans plus a
    // GC + ContextCleaner backlog (broadcast/shuffle cleanup runs
    // async) that otherwise lands on whichever queries run first
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(3000)
    // host-speed calibration pair (graft.core.Calib) — full-sweep
    // snapshots and solo-anchor tables normalize identically
    val calibCpu = graft.core.Calib.median3(graft.core.Calib.cpuMd5())
    val calibSpark =
      graft.core.Calib.median3(graft.core.Calib.sparkRange(spark))
    // ALTERNATING full passes, reporting the per-query MEDIAN: a
    // transient VM stall (noisy neighbor, GC storm) hits one contiguous
    // stretch of ONE pass, so the median of three passes separated in
    // time is immune — a single-run bench once reported 54 s for a query
    // whose steady-state cost is 0.85 s. Alternating whole passes (not
    // back-to-back repeats of each query) is what buys that time
    // separation.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val records = scala.collection.mutable.Map.empty[String,
      graft.core.Trace.Record].withDefaultValue(graft.core.Trace.Record.empty)
    for (_ <- 1 to runs; name <- names) {
      val fn = fns(name)
      // noop sink: materializes every output column (a bare .count()
      // would let Catalyst prune all per-row computation away and
      // under-measure projection-heavy queries)
      try {
        val (secs, rec) = graft.core.Trace(spark, name) {
          val t0 = System.nanoTime()
          muteGwinWarnings(Gwin.allowed(name)) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          (System.nanoTime() - t0) / 1e9
        }
        times(name) = times(name) :+ secs
        records(name) = records(name) ++ rec
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    Timing(names.map(q => q -> times(q)), runs, calibCpu, calibSpark,
      names.map(q => q -> records(q)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus)
    val t = measure(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted)
    // full payload to a FILE, one compact ≤1900-byte line to stdout —
    // the driver keeps only the last ~2000 stdout chars, and round 9's
    // single 12 KB line came back front-truncated (parsed: null). See
    // BenchFormat for the contract.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "/root/repo/BENCH_FULL.json")
    val fullJson = BenchFormat.fullJson(t.medians, t.total, t.runs,
      t.calibCpu, t.calibSpark, t.errors, sfDir, t.records)
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write $fullPath: $e")
    }
    println(BenchFormat.compactLine(t.medians, t.total, t.runs,
      t.calibCpu, t.calibSpark, t.errors, sfDir, fullPath))
    spark.stop()
  }
}
