package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact-arithmetic helpers for oracle-parity aggregation.
  *
  * Floating-point SUM is order-dependent; Spark's partial/final
  * aggregation visits rows in a different order than a single-node
  * engine, so `sum(double)` is not reproducible bit-for-bit. Money-like
  * columns are therefore cast to DECIMAL(18,2) *per row* (exact,
  * deterministic in any engine), aggregated exactly, and only the final
  * scalar is cast back to DOUBLE. The same cast choreography in ANSI
  * SQL (`CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`) yields a
  * bit-identical result in DuckDB — which is what the driver's
  * hash-compare needs. This also scales: decimal sums stay inside
  * whole-stage codegen and partial aggregation.
  */
object Exact {
  val Money: DecimalType = DecimalType(18, 2)

  /** Exact sum of a money-like double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Money)).cast("double")

  /** Exact mean = exact sum / count, computed in double at the end. */
  def davg(c: Column): Column =
    (sum(c.cast(Money)).cast("double") / count(c)).cast("double")

  /** Per-row money cast, for exact products like price*(1-disc). */
  def money(c: Column): Column = c.cast(Money)

  /** Exact sum of an already-decimal expression (e.g. a decimal
    * product), as double. Never round an intermediate decimal to a
    * narrower scale: HALF_UP (Spark) vs HALF_EVEN tie-breaking differs
    * across engines and shows up in the hash compare.
    */
  def dsumRaw(c: Column): Column = sum(c).cast("double")
}
