package graft


/** Dev tool: sweep every query's optimized plan and count occurrences
  * of expensive expression markers — a duplicated `split(`/`md5(`
  * inside one plan usually means a filter/projection recompute trap.
  */
object PlanScan {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("broadcast")) return broadcastAudit(args)
    if (args.headOption.contains("exchanges")) return exchangeLedger(args)
    val sfDir =
      args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.Sessions.local("4", logLevel = "ERROR")
    val markers = Seq("split(", "md5(", "minhash_sig", "regexp_count",
      "transform(", "aggregate(", "vector_dot")
    SparkEntry.allQueries.sortBy(_.name).foreach { q =>
      try {
        val plan = q.run(spark, sfDir)
          .queryExecution.optimizedPlan.toString
        val counts = markers.map(m =>
          m -> plan.sliding(m.length).count(_ == m)).filter(_._2 > 0)
        if (counts.nonEmpty)
          println(s"[scan] ${q.name}: " +
            counts.map { case (m, c) => s"$m$c" }.mkString(" "))
      } catch {
        case e: Throwable =>
          println(s"[scan] ${q.name} FAILED: ${e.getMessage.take(100)}")
      }
    }
    spark.stop()
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
  def exchangeCounts(df: org.apache.spark.sql.DataFrame)
      : (Int, Int, Int, Int) = {
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

  /** One ledger line per query, sorted by name. Queries are planned
    * 8 at a time from a thread pool (r12 verdict #1 — suite wall
    * time): building a query's DataFrame executes its eager
    * `core.Barrier` cuts, so a sequential sweep serializes ~311
    * small Spark jobs behind single-threaded Catalyst planning.
    * Concurrent planning on one session is supported (Bench's warmup
    * has run 8-way since r9), and the counted plan is per-query
    * deterministic, so the LINES are independent of schedule — the
    * output order is pinned by the sort, and the committed ledger
    * diff (ExchangeLedgerSpec) would catch any divergence loudly.
    */
  def exchangeLedgerLines(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Seq[String] =
    graft.core.Par.sweep8(SparkEntry.allQueries.sortBy(_.name)) { q =>
      try {
        val (s, b, f, g) = exchangeCounts(q.run(spark, sfDir))
        s"${q.name} shuffle=$s broadcast=$b scans=$f gwin=$g"
      } catch {
        case e: Throwable =>
          s"${q.name} ERROR ${e.getMessage.take(80).replace('\n', ' ')}"
      }
    }

  /** `runMain graft.PlanScan exchanges [sfDir] [outFile]`: the
    * per-query exchange-count ledger. Checked in as EXCHANGES.txt and
    * pinned by ExchangeLedgerSpec, so any change that silently adds a
    * shuffle (a lost bucketing, a dropped broadcast hint, an optimizer
    * barrier sneaking in) fails `sbt test` with a named diff instead of
    * surfacing as a bench regression three rounds later. Regenerate
    * deliberately after reviewing the diff:
    * `sbt "runMain graft.PlanScan exchanges /root/testdata/sf0.001 EXCHANGES.txt"`.
    */
  private def exchangeLedger(args: Array[String]): Unit = {
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.Sessions.local("4", logLevel = "ERROR")
    val lines = exchangeLedgerLines(spark, sfDir)
    args.lift(2) match {
      case Some(f) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(f),
          (lines.mkString("\n") + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[exchanges] wrote ${lines.size} entries to $f")
      case None => lines.foreach(l => println(s"[exchanges] $l"))
    }
    spark.stop()
  }

  /** `runMain graft.PlanScan broadcast [sfDir]`: flag every
    * BroadcastExchange whose input carries a per-row corpus key
    * (doc_id/text/embedding/event_id/l_orderkey) — the q218 failure
    * class, where the planner broadcasts the corpus-sized stream
    * instead of the bounded model/dimension. Hits need eyeballing
    * (a top-k or probe-set broadcast legitimately keeps doc_id), but
    * every scale-fatal direction mistake surfaces here.
    */
  private def broadcastAudit(args: Array[String]): Unit = {
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.Sessions.local("4", logLevel = "ERROR")
    val corpusKeys = Seq("doc_id#", "text#", "embedding#", "event_id#",
      "l_orderkey#")
    SparkEntry.allQueries.sortBy(_.name).foreach { q =>
      try {
        val sections = q.run(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
          .split("\n\n")
        sections.filter(_.startsWith("(")).foreach { s =>
          val head = s.linesIterator.next()
          if (head.contains("BroadcastExchange")) {
            val keys = corpusKeys.filter(s.contains)
            if (keys.nonEmpty)
              println(s"[bcast] ${q.name}: ${keys.mkString(",")} " +
                s"in $head")
          }
        }
      } catch {
        case e: Throwable =>
          println(s"[bcast] ${q.name} FAILED: ${e.getMessage.take(100)}")
      }
    }
    spark.stop()
  }
}
