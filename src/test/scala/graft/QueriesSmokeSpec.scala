package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{Filter, LogEvent}
import org.apache.logging.log4j.core.filter.AbstractFilter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, collect_list}

/** The one execution sweep over the query surface. Every declared
  * query is built and collected at sf0.001 in two child sessions
  * whose only runtime confs are UTC and a shuffle width — 4 and 7 —
  * so one pass checks three contracts per query:
  *   - it runs and returns rows (t1-style smoke; deep value
  *     correctness is the DuckDB oracle's job,
  *     `tools/check_oracle.py`);
  *   - its values do not depend on the shuffle width: Catalyst may
  *     pick any physical partitioning, so no rand(), no
  *     first()-without-order, no partial-ordered LIMIT;
  *   - it needs no graft-specific session conf (round 4's
  *     harness-parity failure: callers run queries in a vanilla
  *     session).
  * The same pass counts Spark's "No Partition Defined" window
  * warnings per query: each must come from a query `Gwin` declares
  * (final-plan windows, which the ledger's gwin= counter sees, or
  * eager ones that run inside a localCheckpoint during query
  * construction and never reach the final plan).
  */
class QueriesSmokeSpec extends SparkSpec {
  import QueriesSmokeSpec._

  private lazy val widths: (SparkSession, SparkSession) =
    (child(spark, 4), child(spark, 7))

  // run 8 queries at a time, each at both widths at once, on first
  // access (suite wall time, r12 verdict #1): each per-query test
  // keeps its name and failure attribution, only the execution
  // overlaps — the same concurrent-jobs-on-one-session shape Bench's
  // warmup uses. Sessions are forced OUTSIDE the pool: the lazy vals
  // share this instance's monitor, so a worker touching one while
  // `sweep` initializes would deadlock.
  private lazy val sweep: Sweep = {
    val (s4, s7) = widths
    // full session init first: Spark's first initialization
    // reconfigures log4j2, which would silently drop a filter
    // attached earlier
    s4.range(1).count()
    countWarnings(s4) {
      graft.core.Par.sweep8(SparkEntry.allQueries) { q =>
        q.name -> atBothWidths(s4, s7, q.name)(q.run(_, sfDir))
      }.toMap
    }
  }

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} runs non-empty on sf0.001") {
      val o = sweep.outcomes(q.name)
      o.error.foreach(e => fail(s"${q.name} failed: $e"))
      assert(o.rows > 0, s"${q.name} returned 0 rows")
    }
    test(s"${q.name} returns identical values under shuffle widths " +
      "4 and 7") {
      val o = sweep.outcomes(q.name)
      o.error.foreach(e => fail(s"${q.name} failed: $e"))
      o.widthDiff.foreach(d =>
        fail(s"${q.name} is partition-dependent: $d"))
    }
  }

  test("every 'No Partition Defined' warning across the full query " +
    "surface attributes to a ledger-gwin or declared-eager query") {
    val hits = sweep.warnings
    val offenders = hits.collect {
      case (q, n) if !Gwin.allowed(q) => s"$q ($n warnings)"
    }.toSeq.sorted
    assert(offenders.isEmpty,
      s"single-partition window warnings from queries that are " +
        "not declared in Gwin (declare a bound + GwinBoundsSpec test, " +
        s"or rewrite via PrefixSum); $Unattributed means the warning " +
        s"carried no query: ${offenders.mkString(", ")}")
    // the sweep must actually SEE the known warners — a filter
    // wiring regression would otherwise pass vacuously
    val declared = Gwin.LedgerBounds.keySet ++ Gwin.EagerGwinAllowed
    assert(declared.forall(hits.contains),
      s"declared queries emitted no warning: " +
        s"${(declared -- hits.keySet).toSeq.sorted} — either the " +
        "window is gone (remove the declaration) or the filter " +
        s"wiring broke; saw: ${hits.keySet.toSeq.sorted}")
  }

  test("the width comparison flags a query whose values depend on " +
    "spark.sql.shuffle.partitions") {
    val (s4, s7) = widths
    // the row order a hash repartition leaves behind depends on the
    // width (AQE coalesces the tiny output into one partition, so the
    // partition id itself would not): an unordered collect_list sees it
    val o = atBothWidths(s4, s7, "synthetic") { s =>
      s.range(0, 64).repartition(col("id"))
        .agg(collect_list(col("id")).as("ids"))
    }
    assert(o.error.isEmpty, s"synthetic query failed: ${o.error}")
    assert(o.widthDiff.nonEmpty,
      "an unordered collect_list after a hash repartition compared " +
        "equal at widths 4 and 7")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query names are distinct") {
    // queries and oracleSql are toMap'd: a repeated name would drop a
    // query silently
    val dups = SparkEntry.allQueries.groupBy(_.name)
      .collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"repeated query names: ${dups.toSeq.sorted}")
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"queries without an oracle: " +
        s"${(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
          .toSeq.sorted}; oracles without a query: " +
        s"${(SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet)
          .toSeq.sorted}")
  }

  test("every oracle SQL is fully expanded") {
    // a fragment spliced into a plain """ string stays `$name`, and a
    // margin left unstripped leads its line with one `|` (`||` is
    // DuckDB's concatenation)
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        UnexpandedFragment.findFirstIn(sql).map(m => s"$name: $m") ++
          LeftoverMargin.findFirstIn(sql).map(m => s"$name: ${m.trim}")
    }
    assert(bad.isEmpty, s"oracles with unexpanded text: ${bad.mkString("; ")}")
  }
}

object QueriesSmokeSpec {

  /** Row count at width 4, the first difference between the two
    * widths' canonical rows (None when equal), or the error. */
  final case class Outcome(rows: Long, widthDiff: Option[String],
      error: Option[Throwable])

  /** Per-query outcomes, plus "No Partition Defined" warnings per
    * query name ([[Unattributed]] when no query was attached). */
  final case class Sweep(outcomes: Map[String, Outcome],
      warnings: Map[String, Int])

  private val Unattributed = "<no query>"

  /** An interpolation left in oracle text: `$` and a name or `{`. */
  private val UnexpandedFragment = """\$[A-Za-z_{]\S*""".r

  /** A line led by a single margin `|` (not DuckDB's `||`). */
  private val LeftoverMargin = """(?m)^[ \t]*\|(?!\|).*$""".r

  /** A child session: UTC and the shuffle width are its only session
    * confs, so a query that needs a conf set on `spark` at runtime
    * fails here. It shares the context and its `SparkConf`
    * (`Sessions.common`: the `file:` filesystem, one executor class
    * loader), so the codegen cache serves it what `spark` compiled. */
  private def child(spark: SparkSession, width: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.shuffle.partitions", width.toString)
    s
  }

  /** Build and collect `query` in both sessions at once — width 4 on
    * this thread, width 7 on a `Par.bg` thread, which inherits the
    * local properties — under the `core.Trace` key `name`. Spark
    * copies that key into its subquery, broadcast and AQE threads too,
    * so a warning logged on any of them names its query. */
  private def atBothWidths(s4: SparkSession, s7: SparkSession, name: String)(
      query: SparkSession => DataFrame): Outcome = {
    def canon(s: SparkSession): Seq[String] =
      query(s).collect().map(_.toString).sorted.toSeq
    try graft.core.Trace.keyed(s4.sparkContext, name) {
      val (a, b) = graft.core.Par.join2(canon(s4), canon(s7))
      val diff = if (a == b) None else Some(
        s"${a.size} vs ${b.size} rows; first diff: " +
          a.zipAll(b, "<missing>", "<missing>")
            .find { case (x, y) => x != y }
            .map { case (x, y) => s"$x != $y" }.getOrElse("?"))
      Outcome(a.size, diff, None)
    } catch { case e: Throwable => Outcome(0, None, Some(e)) }
  }

  /** Run `f` with a filter on [[Gwin.WindowLoggers]] (at WARN, whatever
    * the console level) that counts each "No Partition Defined" warning
    * under the `core.Trace` key of the logging thread. */
  private def countWarnings(spark: SparkSession)(
      f: => Map[String, Outcome]): Sweep = {
    val sc = spark.sparkContext
    val hits = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    val counter = new AbstractFilter() {
      override def filter(event: LogEvent): Filter.Result = {
        if (event.getMessage.getFormattedMessage
            .contains(Gwin.WarningText)) {
          val q = Option(sc.getLocalProperty(graft.core.Trace.Key))
            .getOrElse(Unattributed)
          hits.computeIfAbsent(q,
            _ => new java.util.concurrent.atomic.AtomicInteger())
            .incrementAndGet()
        }
        Filter.Result.NEUTRAL
      }
    }
    val outcomes = Gwin.filtered(counter, Some(Level.WARN))(f)
    import scala.jdk.CollectionConverters._
    Sweep(outcomes, hits.asScala.map { case (q, n) => q -> n.get }.toMap)
  }
}
