package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Enum/CHECK-constraint emulation (SURVEY §1.1: Postgres enums like
  * `scoring_class ENUM('bad','average','good','star')` and CHECK
  * variants have no Spark analog — the engine uses StringType plus an
  * explicit validation expression at the pipeline boundary).
  */
object Validate {

  /** Quarantine stance: out-of-domain values become NULL (count them
    * separately and route to a dead-letter table).
    */
  def enumOrNull(c: Column, allowed: Seq[String]): Column =
    when(c.isin(allowed: _*), c)

  /** Violation flag for dead-letter routing / metrics. */
  def enumViolation(c: Column, allowed: Seq[String]): Column =
    c.isNotNull && !c.isin(allowed: _*)

  /** Single-pass pipeline health metrics: attach an `Observation` that
    * counts rows and per-check violations DURING whatever action the
    * caller runs (a write, typically) — the accumulator-backed
    * `Dataset.observe` mechanism, so the quality numbers cost zero
    * extra scans and zero extra shuffles. At 100 TB a separate
    * "SELECT count(bad) FROM staged" audit pass re-reads the corpus;
    * this reads it never.
    *
    * Observed metrics must be aggregates over non-distinct,
    * deterministic expressions (Spark enforces it); `obs.get` BLOCKS
    * until the first action on the returned frame completes.
    *
    * @param checks metric name → row-level violation predicate
    * @return the frame to run the action on, and the observation to
    *         read afterwards (`n_rows` plus one count per check)
    */
  def observed(df: DataFrame, name: String,
      checks: Seq[(String, Column)]): (DataFrame, Observation) = {
    require(checks.nonEmpty, "at least one check is required")
    val obs = Observation(name)
    val metrics = observeMetrics(checks)
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  private def observeMetrics(checks: Seq[(String, Column)])
      : Seq[Column] =
    count(lit(1)).as("n_rows") +:
      checks.map { case (n, pred) =>
        // sum over ZERO rows is NULL — an empty frame must report 0
        // violations, not break getAs[Long]
        coalesce(sum(pred.cast("long")), lit(0L)).as(n)
      }
}
