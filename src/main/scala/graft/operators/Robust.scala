package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Barrier

/** Robust outlier gating over an integer metric — the median / MAD
  * (median absolute deviation) filter a curation pipeline runs on
  * per-document statistics (token counts, line lengths, symbol
  * ratios) where means and standard deviations are exactly what the
  * outliers corrupt. Everything ships in the doubled-integer form so
  * both engines agree to the bit with zero floating point:
  *
  *  - `med2` = the sum of the two middle order statistics (equal when
  *    N is odd) = 2·median, always an integer;
  *  - `dev2` = |2·v − med2| = 2·|v − median|, an integer per row;
  *  - `mad4` = doubled median of the dev2 distribution = 4·MAD;
  *  - the gate |v − median| > (kNum/kDen)·MAD multiplies through by
  *    4·kDen: flag iff `2·kDen·dev2 > kNum·mad4` — pure BIGINT
  *    comparisons, no division anywhere.
  *
  * Scale shape: the corpus is touched twice — one `groupBy(value)`
  * count aggregate (map-side combine collapses onto the DISTINCT
  * VALUES of the metric, typically thousands for integer document
  * stats), and one final flag pass where the two 1-row median tables
  * broadcast. Both median selections run on the value-count table
  * through [[PrefixSum]]'s two-phase scan — an exclusive cumulative
  * count in rank order with NO partition-less window — and pick the
  * two middle ranks with a single aggregate. Nothing row-scale ever
  * sorts globally or reaches the driver.
  *
  * Contract: `valueCol` must be non-null and |v| ≤ 2⁶¹ (the doubled
  * forms and the k-scaled comparison each cost one bit).
  *
  * Reference anchor: the curriculum's data-quality filters
  * (`2-data-modeling` dedup/cleaning homework) keep rows inside fixed
  * bounds; the robust self-calibrating gate is the training-data
  * extension (the C4/Gopher-style length-outlier rules).
  */
object Robust {

  /** Doubled weighted median of a `(v, c)` value-count table: one row
    * `(n, med2)` with `n` = Σc and `med2` = v at 0-based rank
    * ⌊(n−1)/2⌋ plus v at rank ⌊n/2⌋ (2·median exactly; 0 when empty).
    */
  def med2OfCounts(counts: DataFrame, vCol: String = "v",
      cCol: String = "c"): DataFrame = {
    val ranked = PrefixSum.exclusive(
      counts.select(col(vCol).cast("long").as("v"),
        col(cCol).cast("long").as("c")),
      Seq("v"), "c", "_cum")
    val tot = counts.agg(
      coalesce(sum(col(cCol).cast("long")), lit(0L)).as("n"))
    ranked.crossJoin(broadcast(tot))
      .agg(
        max(col("n")).as("_n"),
        sum(when(col("_cum") <= expr("(n - 1) DIV 2") &&
            expr("(n - 1) DIV 2") < col("_cum") + col("c"), col("v"))
          .otherwise(0L)).as("_lo"),
        sum(when(col("_cum") <= expr("n DIV 2") &&
            expr("n DIV 2") < col("_cum") + col("c"), col("v"))
          .otherwise(0L)).as("_hi"))
      .select(coalesce(col("_n"), lit(0L)).as("n"),
        (coalesce(col("_lo"), lit(0L)) + coalesce(col("_hi"), lit(0L)))
          .as("med2"))
  }

  /** Appends `med2`, `mad4`, `dev2` and the `is_outlier` 0/1 flag
    * (1 iff |v − median| > (kNum/kDen)·MAD) to every input row.
    * MAD = 0 (over half the mass sits on one value) flags every row
    * off the median — the conventional degenerate-MAD behavior;
    * gate on `dev2` directly if that is too strict for a corpus.
    */
  def madGate(df: DataFrame, valueCol: String, kNum: Long,
      kDen: Long = 1L): DataFrame = {
    require(kNum >= 0 && kDen >= 1,
      s"madGate needs kNum >= 0 and kDen >= 1, got $kNum/$kDen")
    val counts = df
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .transform(Barrier(_)) // the median and the deviation table both read it
    val med = Barrier(med2OfCounts(counts)) // 1 row, read twice
    val dev = counts.crossJoin(broadcast(med))
      .select(abs(lit(2L) * col("v") - col("med2")).as("v"), col("c"))
      .groupBy(col("v")).agg(sum(col("c")).as("c"))
    val mad = med2OfCounts(dev).select(col("med2").as("mad4"))
    df.crossJoin(broadcast(med.select(col("med2"))))
      .crossJoin(broadcast(mad))
      .withColumn("dev2",
        abs(lit(2L) * col(valueCol).cast("long") - col("med2")))
      .withColumn("is_outlier",
        (lit(2L * kDen) * col("dev2") > lit(kNum) * col("mad4"))
          .cast("long"))
  }
}
