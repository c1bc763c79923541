package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every main (Bench, Verify, Probe)
  * shares: `local[cpus]` with the shuffle
  * width matched to the core count (not the 200 default — a local run
  * has no 200-slot cluster to fill) plus [[common]], the settings the
  * test harness applies too. Keeping it in one place stops the config
  * block from drifting across mains — exactly how round 4's dead
  * legacy-conf pins multiplied.
  */
object Sessions {

  /** `file:` served by [[LocalFs]]. Without `libhadoop`, Hadoop's
    * `RawLocalFileSystem` falls back to the shell: `readlink` on every
    * FileContext rename (each streaming offsets, commits, state-delta,
    * sink-log and checksum commit) and `chmod` on every create and
    * `mkdirs`. A 20-second `perfbench` `ingest_stream` run (4 vCPU,
    * JFR `jdk.ProcessStart`) started 3,521 child processes, 3,492 of
    * them from Hadoop, about 1,300 per 2-arrival pass; with this map it
    * starts 27, and none from a Hadoop filesystem call.
    */
  val localFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.Checked].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[LocalFs.Context].getName)

  /** What every session of the engine carries, in the mains and in the
    * test harness alike, so tier-1 runs on what the mains run: UTC
    * pinned (the cross-engine oracle compares wall-clock values), no
    * UI, [[localFs]] for `file:` paths, and session artifact isolation
    * off.
    *
    * Isolation off makes every session's tasks share the executor's
    * default class loader. With it on (Spark 4's default), each job
    * carries its session's `JobArtifactState`, and the executor gives
    * every session UUID its own `ExecutorClassLoader`. The codegen
    * cache is keyed by (context class loader, code), and every
    * `Trigger.AvailableNow` drain runs in a fresh cloned session, so
    * every drain recompiled all of its executor-side classes, each
    * compile fetching over RPC every class name Janino could not
    * resolve. On a 4-vCPU host, a probe repeating `perfbench`'s
    * `ingest_stream` pass counted 101–102 compilations
    * (`CodegenMetrics.METRIC_COMPILATION_TIME`) on every pass; with
    * isolation off it counts 0 after the first. Executor threads
    * blocked on another task's compile (`KeyLock`, JFR, 5 passes) fell
    * from 20.4 to 0.95 s, and Janino's executor CPU samples from 192 to
    * 18. Isolation only separates jars and classes added per session
    * through `addArtifact` or Spark Connect, which the engine never
    * uses. `SessionsSpec` fails if a drain or a new session compiles
    * again.
    */
  val common: Map[String, String] = localFs ++ Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.artifact.isolation.enabled" -> "false")

  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(common)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
