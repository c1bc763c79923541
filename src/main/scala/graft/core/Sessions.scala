package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every entry point (Bench, Verify,
  * Probe, PlanScan) shares: `local[cpus]` with the shuffle
  * width matched to the core count (not the 200 default — a local run
  * has no 200-slot cluster to fill), UTC pinned (the cross-engine
  * oracle compares wall-clock values), no UI, and [[localFs]] for
  * `file:` paths. Keeping it in one place stops the config block from
  * drifting across mains — exactly how round 4's dead legacy-conf pins
  * multiplied.
  */
object Sessions {

  /** `file:` served by [[LocalFs]]. Without `libhadoop`, Hadoop's
    * `RawLocalFileSystem` falls back to the shell: `readlink` on every
    * FileContext rename (each streaming offsets, commits, state-delta,
    * sink-log and checksum commit) and `chmod` on every create and
    * `mkdirs`. A 20-second `perfbench` `ingest_stream` run (4 vCPU,
    * JFR `jdk.ProcessStart`) started 3,521 child processes, 3,492 of
    * them from Hadoop, about 1,300 per 2-arrival pass; with this map it
    * starts 27, and none from a Hadoop filesystem call. The test harness
    * applies the same map, so tier-1 runs every sink and streaming spec
    * on this filesystem.
    */
  val localFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.Checked].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[LocalFs.Context].getName)

  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(localFs)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
