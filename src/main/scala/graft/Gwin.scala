package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.config.Configurator

/** THE single declaration of the bounded partition-less-window
  * allowlist: `Bench`'s per-query warning mute, `GwinBoundsSpec`'s
  * executable bounds and `QueriesSmokeSpec`'s warning-attribution
  * test all read THIS object. `GwinBoundsSpec` also pins
  * [[LedgerBounds]]' names to the `gwin>0` rows of the committed
  * `EXCHANGES.txt` (which `ExchangeLedgerSpec` pins to the live
  * plans), so a query rename or a new global window breaks exactly
  * one declaration.
  */
object Gwin {

  /** Loggers behind Spark's "No Partition Defined for Window
    * operation!" warning (emitted by WindowExecBase; the Logging
    * trait names the logger after the CONCRETE node class).
    */
  val WindowLoggers: Seq[String] = Seq(
    "org.apache.spark.sql.execution.window.WindowExec",
    "org.apache.spark.sql.execution.window.WindowGroupLimitExec")

  /** The warning text the mute keys on — matched on message CONTENT
    * (r11 ADVICE), so a NEW, different WindowExec warning from an
    * allowlisted query still surfaces.
    */
  val WarningText = "No Partition Defined"

  /** Run `f` with `filter` on each of [[WindowLoggers]]' own logger
    * configs, after setting each logger's level to `level` (its current
    * level when None). The one log4j hook on these loggers: Bench's mute
    * DENYs the warning, the tier-1 sweep counts it.
    */
  private[graft] def filtered[A](filter: Filter, level: Option[Level])(
      f: => A): A = {
    // resolve the context through SPARK's classloader: under layered
    // classloaders (sbt's test loader) the default context can differ
    // from the one the Spark jars' loggers live in, and a filter added
    // there sees nothing
    val ctx = LogManager.getContext(
      classOf[org.apache.spark.sql.execution.window.WindowExec]
        .getClassLoader, false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    // setLevel first: it materializes a SPECIFIC LoggerConfig per
    // logger, so the filter attaches there and never to the root config
    WindowLoggers.foreach { n =>
      Configurator.setLevel(n,
        level.getOrElse(LogManager.getLogger(n).getLevel))
      cfg.getLoggerConfig(n).addFilter(filter)
    }
    ctx.updateLoggers()
    try f
    finally {
      WindowLoggers.foreach(n => cfg.getLoggerConfig(n).removeFilter(filter))
      ctx.updateLoggers()
    }
  }

  /** Queries whose FINAL plan carries a partition-less window (their
    * ledger row says gwin>0) -> (max rows into any of those windows,
    * why that bound is structural). Anything else with gwin>0 fails
    * `GwinBoundsSpec`: rewrite it via PrefixSum.withOrdinals /
    * Percentiles range partitioning (see q125/q126/q212's round-9
    * rewrites) instead of adding it here.
    */
  val LedgerBounds: Map[String, (Long, String)] = Map(
    "q107_null_ordering" -> ((350L,
      "customer filtered to c_custkey <= 300 before the sort/window")),
    "q112_vocab_encode" -> ((100L,
      "the rank window runs AFTER .limit(100)")),
    "q194_temperature_mix" -> ((64L,
      "apportionment over one row per language")),
    "q209_seasonality" -> ((48L, "24 clock-hour rollup rows")),
    "q214_changepoint" -> ((512L, "per-day rollup, calendar-bounded")),
    "q23_frames" -> ((2600L,
      "per-day rollup over o_orderdate: the TPC-H order calendar is " +
        "1992-01-01..1998-08-02 = 2406 distinct days at ANY corpus " +
        "size")),
    "q275_doremi_mix" -> ((64L,
      "largest-remainder over the 20-row strata table")),
    "q282_interleave_schedule" -> ((64L,
      "apportionment/schedule windows over one row per source")))

  /** Queries whose BOUNDED partition-less windows execute EAGERLY
    * (inside a core.Barrier during query construction) — invisible
    * to the final-plan ledger (their gwin= is 0) yet still warning at
    * runtime. Each entry's boundedness is executable in
    * GwinBoundsSpec's eager section. Found round 11: q239's
    * apportionment windows (allocateLargestRemainder over the
    * per-source stratum table) run inside the barrier on `alloc`.
    */
  val EagerGwinAllowed: Set[String] = Set("q239_stratified_sample")

  def allowed(name: String): Boolean =
    LedgerBounds.contains(name) || EagerGwinAllowed(name)
}
