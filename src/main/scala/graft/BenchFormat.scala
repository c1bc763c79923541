package graft

/** Machine-readable bench output, shaped for the driver's capture: the
  * driver keeps only the LAST ~2000 characters of `graft.Bench`'s
  * stdout and tries to parse them — round 9's single ~12 KB JSON line
  * came back truncated at the front (`BENCH_r09.json` carried
  * `"parsed": null` and a 2000-char tail with ~75 of 305 queries). The
  * fixed contract:
  *
  *  - stdout is EXACTLY ONE JSON line, guaranteed ≤ 1900 bytes, so the
  *    whole of stdout fits inside the tail window and parses whether
  *    the driver feeds it the full tail or just the last line;
  *  - the line still covers EVERY query: medians ride as a centisecond
  *    integer array (`cs`) in sorted-query-name order — ~4 bytes per
  *    query instead of ~35 for `"name":1.234` pairs. Decode against
  *    the full payload's key order, or `sort(SparkEntry.queries.keys)`;
  *  - the complete name → seconds map (millisecond precision) is
  *    written to the file named by `full` (default
  *    `/root/repo/BENCH_FULL.json`), the artifact bench_compare.py and
  *    the committed snapshots use.
  *
  * Pure string builders — no Spark — so BenchFormatSpec can pin the
  * byte budget and the decode round-trip without a session.
  */
object BenchFormat {

  def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def calibJson(calibCpu: Double, calibSpark: Double): String =
    s"""{"cpu_md5_sec":${r3(calibCpu)},"spark_range_sec":${r3(calibSpark)}}"""

  /** The complete payload: every query's median at millisecond
    * precision plus totals, calibration pair, and error list, and per
    * label the `layers` Spark ran for it — jobs, stages, tasks and Σ
    * executor CPU seconds, summed over the label's successful passes
    * (its [[graft.core.Trace]] records). One JSON document (single
    * line — file readers don't care, and single-line keeps it
    * concatenation-safe for logs).
    */
  def fullJson(results: Seq[(String, Double)], total: Double, runs: Int,
      calibCpu: Double, calibSpark: Double, errors: Seq[String],
      sf: String, layers: Seq[(String, graft.core.Trace.Record)]): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ls = layers.map { case (k, r) =>
      s""""$k":{"jobs":${r.jobs.size},"stages":${r.stages.size},""" +
        s""""tasks":${r.tasks},"cpu_s":${r3(r.cpuSeconds)}}"""
    }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""runs":$runs,"calib":${calibJson(calibCpu, calibSpark)},""" +
      s""""queries":$qs,"errors":$errJson,"sf":"$sf","layers":$ls}"""
  }

  /** The one stdout line, ≤ `maxBytes`. `results` must be sorted by
    * query name (the decode contract for `cs`). Errored queries carry
    * -1 in `cs` (the full payload's sentinel, scaled). If a future
    * surface outgrows the budget even in centiseconds, the line
    * degrades to a slowest-20 map instead of the array — shorter and
    * still parseable, never truncated.
    */
  def compactLine(results: Seq[(String, Double)], total: Double,
      runs: Int, calibCpu: Double, calibSpark: Double,
      errors: Seq[String], sf: String, full: String,
      maxBytes: Int = 1900): String = {
    val errJson = errors.take(8).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val base = s"""{"metric":"total","value":${r3(total)},""" +
      s""""unit":"sec","runs":$runs,"nq":${results.size},""" +
      s""""calib":${calibJson(calibCpu, calibSpark)},""" +
      s""""n_errors":${errors.size},"errors":$errJson,""" +
      s""""full":"$full","sf":"$sf""""
    val cs = results
      .map { case (_, v) => if (v < 0) -1L else math.round(v * 100) }
      .mkString("[", ",", "]")
    val withCs = base + s""","cs_unit":"centisec","cs":$cs}"""
    if (withCs.getBytes("UTF-8").length <= maxBytes) withCs
    else {
      val slow = results.filter(_._2 >= 0).sortBy(-_._2).take(20)
        .map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      base + s""","slow":$slow}"""
    }
  }
}
