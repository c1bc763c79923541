package graft.core

/** Host-speed calibration pair: two fixed workloads, independent of
  * SF and of every engine plan, timed like the queries (median of 3).
  * Committed snapshots carry them as their own speed normalizer —
  * when every query moves by ~the same ratio as the calibration
  * pair, the VM changed speed, not the engine (the r5→r9 recurring
  * host-vs-plan question, answered mechanically by bench_compare).
  * The two probes measure DIFFERENT host dimensions: cpu_md5 =
  * single-thread CPU, spark_range = parallel throughput + scheduler.
  * Taken by [[graft.Bench.measure]], so the full-sweep snapshots and
  * the solo-anchor tables ([[graft.Probe]] `anchor`) normalize
  * identically.
  */
object Calib {

  def median3(f: => Double): Double = {
    val xs = List(f, f, f).sorted
    xs(1)
  }

  /** Single-thread CPU probe: 300k MD5 digests. */
  def cpuMd5(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val t0 = System.nanoTime()
    var i = 0
    var acc = 0L
    while (i < 300000) {
      acc += md.digest(("graft-calib:" + i).getBytes("UTF-8"))(0)
      i += 1
    }
    if (acc == Long.MinValue) print("") // keep the loop live
    (System.nanoTime() - t0) / 1e9
  }

  /** Parallel-throughput probe: xxhash64 over a 2e8 range.
    * bit_xor, not sum: xxhash64 spans the full long range, so an
    * ANSI-mode SUM over 2e8 of them overflows deterministically.
    */
  def sparkRange(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, expr, xxhash64}
    val t0 = System.nanoTime()
    spark.range(200000000L)
      .select(xxhash64(col("id")).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    (System.nanoTime() - t0) / 1e9
  }
}
