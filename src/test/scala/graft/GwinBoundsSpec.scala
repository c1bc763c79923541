package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.{WindowExecBase,
  WindowGroupLimitExec}

/** EXECUTABLE bounds for the partition-less-window allowlist — the r9
  * verdict's "prose, not proof" gap: an allowlist that only said WHY
  * each global window's input is bounded ("20-row strata", "24
  * clock-hour rollup") let one refactor sneak an unbounded global
  * window back in under an allowlisted name.
  *
  * This spec executes, for EVERY query in `Gwin.LedgerBounds`, the
  * exact physical subplan feeding each partition-less WindowExec /
  * WindowGroupLimitExec and asserts its row count is under the
  * declared bound. The bounds are SF-independent by construction
  * (constant-key filters, post-limit positions, calendar/stratum
  * rollups), so they are asserted at BOTH sf0.001 and sf0.01 — a bound
  * that secretly scales with the corpus fails the larger SF. It also
  * pins the declaration to the committed ledger: the `gwin>0` rows of
  * EXCHANGES.txt must be exactly the declared names.
  */
class GwinBoundsSpec extends SparkSpec {

  /** The subplans feeding each partition-less window of `df`'s FINAL
    * physical plan, executed to an exact row count. The query runs to
    * completion first so AQE finalizes every stage — final-plan
    * fragments carry their columnar transitions and materialized
    * shuffle stages, so re-executing just the window-feeding subtree
    * is cheap (it replays from the materialized exchange) and measures
    * precisely what the window ingests — not the query input, not its
    * output. (initialPlan fragments are NOT directly executable: they
    * lack the ColumnarToRow transitions the preparation rules insert.)
    */
  private def gwinInputCounts(df: DataFrame): Seq[Long] = {
    // drive THIS QueryExecution to completion (a .write would build a
    // separate one and leave this adaptive plan un-finalized)
    df.queryExecution.toRdd.count()
    val children = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      // materialized stages are LEAF nodes — descend into their plans
      // or every window below the last stage boundary goes unseen
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(s.plan)
      case other =>
        other match {
          case w: WindowExecBase if w.partitionSpec.isEmpty =>
            children ++= w.children
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
            children += w.child
          case _ => ()
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    children.toSeq.map(_.execute().count())
  }

  // EAGER global windows — executed during query CONSTRUCTION (inside
  // a localCheckpoint), so they never appear in the final plan the
  // ledger counts (gwin=0) yet still take Spark's single-partition
  // path at runtime (found round 11 via q239's bench warnings). Their
  // boundedness is asserted here on the exact input the eager window
  // ingests; Gwin.EagerGwinAllowed declares exactly these labels.
  test("q239_stratified_sample's EAGER apportionment windows " +
    "(allocateLargestRemainder under alloc.localCheckpoint) ingest " +
    "one row per source — bounded at any corpus size") {
    import org.apache.spark.sql.functions.{count, lit}
    assert(Gwin.EagerGwinAllowed == Set("q239_stratified_sample"),
      "every Gwin.EagerGwinAllowed entry needs its own eager bound test")
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach {
      dir =>
        // the stratum table IS the window input: documents grouped by
        // source (the exact DataFrame q239 hands to the apportioner)
        val strata = graft.core.Tables
          .loadParallel(spark, dir, "documents")
          .groupBy(org.apache.spark.sql.functions.col("source"))
          .agg(count(lit(1)).as("n_docs"))
        val n = strata.count()
        // the synthetic corpus has 20 sources (src0..src19) at every
        // SF; 32 leaves headroom without admitting a corpus-scaling
        // input
        assert(n > 0 && n <= 32L,
          s"q239's stratum table has $n rows at $dir — the eager " +
            "window's one-row-per-source bound no longer holds")
    }
  }

  test("the gwin>0 rows of EXCHANGES.txt are exactly the queries " +
    "Gwin.LedgerBounds declares") {
    val rows = scala.util.Using.resource(
      scala.io.Source.fromFile("EXCHANGES.txt"))(_.getLines().toList)
    val planned = rows.map(_.split(" "))
      .collect { case p if p.exists(f =>
        f.startsWith("gwin=") && f != "gwin=0") => p(0) }
      .toSet
    val declared = Gwin.LedgerBounds.keySet
    assert(planned == declared,
      s"ledger gwin>0 rows without a declared bound: " +
        s"${(planned -- declared).toSeq.sorted} (rewrite via " +
        "PrefixSum.withOrdinals, or declare a bound in Gwin); declared " +
        s"but gwin=0 in the ledger: ${(declared -- planned).toSeq.sorted}")
  }

  for ((name, (bound, why)) <- Gwin.LedgerBounds.toSeq.sortBy(_._1)) {
    test(s"$name: every partition-less window ingests <= $bound rows " +
      s"($why), at sf0.001 and sf0.01") {
      val run = SparkEntry.queries.getOrElse(name,
        fail(s"$name is gwin-allowlisted but not in SparkEntry.queries"))
      Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach {
        dir =>
          val counts = gwinInputCounts(run(spark, dir))
          assert(counts.nonEmpty,
            s"$name plans NO partition-less window at $dir — stale " +
              "allowlist entry: remove it from Gwin.LedgerBounds")
          counts.foreach(c => assert(c <= bound,
            s"$name at $dir: a partition-less window ingests $c rows " +
              s"> documented bound $bound — the boundedness argument " +
              "no longer holds; rewrite via PrefixSum.withOrdinals"))
      }
    }
  }
}
