package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every entry point (Bench, Verify,
  * Probe, PlanScan) shares: `local[cpus]` with the shuffle
  * width matched to the core count (not the 200 default — a local run
  * has no 200-slot cluster to fill), UTC pinned (the cross-engine
  * oracle compares wall-clock values), and no UI. Keeping it in one
  * place stops the config block from drifting across mains — exactly
  * how round 4's dead legacy-conf pins multiplied.
  */
object Sessions {
  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
