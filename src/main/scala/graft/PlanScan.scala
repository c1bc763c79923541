package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan sweeps over named queries: the per-query loop [[Probe]]'s
  * `exchanges`, `bcast` and `scan` modes share, and the exchange
  * counting behind the EXCHANGES.txt ledger that ExchangeLedgerSpec
  * pins. Regenerate the ledger deliberately, after reviewing the diff,
  * with `tools/run_main.sh graft.Probe exchanges <sfDir> > EXCHANGES.txt`
  * over the sf0.001 tables.
  */
object PlanScan {

  /** `f`'s lines for each of `names`' DataFrames, each led by the
    * query's name, in the order given; a query that fails to plan
    * yields one `<name> ERROR <message>` line. Queries are planned
    * 8 at a time from a thread pool, for wall time: building a query's
    * DataFrame executes its eager `core.Barrier` cuts, so a sequential
    * sweep serializes ~311 small Spark jobs behind single-threaded
    * Catalyst planning. Concurrent planning on one session is supported
    * (Bench's warm-up runs 8-way too), and each query's plan is
    * deterministic, so the LINES are independent of schedule.
    */
  def sweep(spark: SparkSession, sfDir: String, names: Seq[String])(
      f: DataFrame => Seq[String]): Seq[String] = {
    val queries = SparkEntry.queries
    graft.core.Par.sweep8(names) { q =>
      try f(queries(q)(spark, sfDir)).map(l => s"$q $l")
      catch {
        case scala.util.control.NonFatal(e) =>
          Seq(s"$q ERROR " +
            String.valueOf(e.getMessage).take(80).replace('\n', ' '))
      }
    }.flatten
  }

  /** Shuffle/broadcast exchange counts of a query's STATIC physical
    * plan, subqueries included. Exchanges only exist after
    * `EnsureRequirements`, so this walks `executedPlan` — but through
    * AQE's `initialPlan` (the plan BEFORE any runtime re-optimization
    * fires), keeping the count deterministic: AQE's runtime coalescing/
    * demotion would make the ledger flap with partition sizes.
    * The 4th count is PARTITION-LESS window operators (WindowExec /
    * WindowGroupLimitExec with an empty partitionSpec — Spark's "No
    * Partition Defined: moving all data to a single partition" path):
    * the one plan shape that is quietly correct at sf0.1 and fatal at
    * 100 TB. GwinBoundsSpec fails any nonzero gwin outside
    * `Gwin.LedgerBounds`, which declares each query's bound and why.
    */
  def exchangeCounts(df: DataFrame): (Int, Int, Int, Int) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.window.{
      WindowExecBase, WindowGroupLimitExec}
    var sh = 0
    var bc = 0
    var sc = 0
    var gw = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case other =>
        other match {
          case _: ShuffleExchangeLike => sh += 1
          case _: BroadcastExchangeLike => bc += 1
          // file scans counted too: a plan can regrow a second corpus
          // scan with UNCHANGED exchange counts (q221's pre-fix shape
          // minus its join) — pruning differences silently defeat
          // ReuseExchange, and only the scan count sees it
          case _: FileSourceScanExec => sc += 1
          case w: WindowExecBase if w.partitionSpec.isEmpty => gw += 1
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
            gw += 1
          case _ => ()
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    (sh, bc, sc, gw)
  }

  /** One ledger line per named query:
    * `<name> shuffle=<n> broadcast=<n> scans=<n> gwin=<n>`. Any change
    * that silently adds a shuffle (a lost bucketing, a dropped
    * broadcast hint, an optimizer barrier sneaking in) then fails
    * `sbt test` with a named diff instead of surfacing later as a bench
    * regression.
    */
  def exchangeLedgerLines(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[String] =
    sweep(spark, sfDir, names) { df =>
      val (s, b, f, g) = exchangeCounts(df)
      Seq(s"shuffle=$s broadcast=$b scans=$f gwin=$g")
    }
}
