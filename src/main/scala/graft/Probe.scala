package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one dev harness (not part of the SparkEntry surface): one
  * session, the queries chosen by [[SparkEntry.select]] as for Bench
  * and Verify. The timed mode goes through [[Bench.measure]] — the
  * benchmark's own warm-up, settle and median-of-passes loop — so a
  * probe number and a Bench number are the same measurement of one
  * query.
  *
  * `runMain graft.Probe <mode> <sfDir> [query...]`, cores from
  * `SPARK_GRAFT_CPUS` and passes from `SPARK_GRAFT_BENCH_RUNS`, as
  * for Bench. Modes:
  *  - `prof`: each query's median and per-pass wall times, then a
  *    per-stage report over the timed passes, read from their
  *    [[core.Trace]] records — stages sorted by duration with the head
  *    of their callsite, the straggler anatomy (longest task's GC/CPU,
  *    median task) and the summed executor deserialize time, plus the
  *    codegen compilations the timed passes made;
  *  - `plan`: the formatted physical plan, `explain("formatted")`;
  *  - `exchanges`: the EXCHANGES.txt ledger line of each query, on
  *    stdout with no prefix, so
  *    `tools/run_main.sh graft.Probe exchanges <sfDir> > EXCHANGES.txt`
  *    over the sf0.001 tables regenerates the ledger;
  *  - `bcast`: the broadcast-direction audit ([[bcastHits]]);
  *  - `scan`: the expression-marker scan ([[markerCounts]]).
  */
object Probe {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: runMain graft.Probe " +
      "prof|plan|exchanges|bcast|scan <sfDir> [query...]")
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), logLevel = "ERROR")
    try run(spark, args(0), args(1), args.drop(2).toSeq)
    finally spark.stop()
  }

  def run(spark: SparkSession, mode: String,
      sfDir: String, names: Seq[String]): Unit = {
    val qs = SparkEntry.select(names)
    mode match {
      case "prof" => prof(spark, sfDir, qs)
      case "plan" =>
        val queries = SparkEntry.queries
        qs.foreach(q => queries(q)(spark, sfDir).explain("formatted"))
      case "exchanges" =>
        PlanScan.exchangeLedgerLines(spark, sfDir, qs).foreach(println)
      case "bcast" =>
        PlanScan.sweep(spark, sfDir, qs)(bcastHits)
          .foreach(l => println(s"[bcast] $l"))
      case "scan" =>
        PlanScan.sweep(spark, sfDir, qs)(markerCounts)
          .foreach(l => println(s"[scan] $l"))
      case other => throw new IllegalArgumentException(
        s"unknown mode '$other' (prof|plan|exchanges|bcast|scan)")
    }
  }

  /** Every BroadcastExchange whose input carries a per-row corpus key
    * (doc_id/text/embedding/event_id/l_orderkey) — the q218 failure
    * class, where the planner broadcasts the corpus-sized stream
    * instead of the bounded model/dimension. Hits need eyeballing
    * (a top-k or probe-set broadcast legitimately keeps doc_id), but
    * every scale-fatal direction mistake surfaces here.
    */
  private def bcastHits(df: DataFrame): Seq[String] = {
    val corpusKeys = Seq("doc_id#", "text#", "embedding#", "event_id#",
      "l_orderkey#")
    df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
      .split("\n\n").toSeq
      .filter(_.startsWith("("))
      .flatMap { s =>
        val head = s.linesIterator.next()
        val keys = corpusKeys.filter(s.contains)
        if (head.contains("BroadcastExchange") && keys.nonEmpty)
          Some(s"${keys.mkString(",")} in $head")
        else None
      }
  }

  /** Occurrences of expensive expression markers in the optimized
    * plan — a duplicated `split(`/`md5(` inside one plan usually means
    * a filter/projection recompute trap. */
  private def markerCounts(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.optimizedPlan.toString
    val counts = Seq("split(", "md5(", "minhash_sig", "regexp_count",
      "transform(", "aggregate(", "vector_dot")
      .map(m => m -> plan.sliding(m.length).count(_ == m)).filter(_._2 > 0)
    if (counts.isEmpty) Nil
    else Seq(counts.map { case (m, c) => s"$m$c" }.mkString(" "))
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
  private def prof(spark: SparkSession,
      sfDir: String, names: Seq[String]): Unit = {
    val t = Bench.measure(spark, sfDir, names)
    t.medians.zip(t.passes).foreach { case ((q, med), (_, ts)) =>
      println(f"[prof] $q median $med%.3f s")
      val shown = if (ts.isEmpty) "none succeeded"
        else ts.map(x => f"$x%.3f").mkString(" ")
      println(s"[prof] $q passes $shown")
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
    "graft.core.Barrier", "graft.core.Trace")
}
