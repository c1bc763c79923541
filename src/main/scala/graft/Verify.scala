package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional extra args: restrict to the named queries (dev loop)
    val only: Set[String] = rest.toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // soft per-query wall-time ceiling: a pathological plan regression
    // (e.g. a lost broadcast degrading to a corpus nested-loop) should
    // fail the sweep LOUDLY, not just slow it. 20× a generous sf0.01
    // per-query median — queries run 8-way concurrent here, so the
    // ceiling absorbs scheduling contention with margin to spare.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET_SEC", "120").toDouble
    val times = new java.util.concurrent.ConcurrentHashMap[String, Double]
    // dump queries 8 at a time: each writes its own directory, Spark
    // schedules concurrent jobs from separate threads, and the small
    // per-query jobs underutilize local[32] one at a time. Results
    // are deterministic per query regardless of scheduling.
    graft.core.Par.sweep8(SparkEntry.queries.toSeq
        .filter { case (name, _) => only.isEmpty || only(name) }) {
      case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          times.put(name, (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    val breaches = scala.jdk.CollectionConverters
      .MapHasAsScala(times).asScala.toSeq
      .filter(_._2 > budgetSec).sortBy(-_._2)
    breaches.foreach { case (n, t) =>
      System.err.println(
        f"[verify] BUDGET BREACH: $n took $t%.1f s (> $budgetSec%.0f s)")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    import BenchFormat.r3
    val timesJson = scala.jdk.CollectionConverters
      .MapHasAsScala(times).asScala.toSeq.sortBy(_._1)
      .map { case (n, t) => s"${q(n)}: ${r3(t)}" }
      .mkString("{", ",", "}")
    val breachJson = breaches.map(b => q(b._1)).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/verify_times.json"),
      s"""{"budget_sec": ${r3(budgetSec)}, "breaches": $breachJson, """ +
        s""""times": $timesJson}""")
    spark.stop()
  }
}
