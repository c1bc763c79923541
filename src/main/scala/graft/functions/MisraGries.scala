package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Misra–Gries heavy-hitter summary: a bounded-memory aggregator that
  * returns a candidate set guaranteed to contain every item with
  * frequency > n/(k+1).
  *
  * This is the pass-1 half of EXACT distributed heavy hitters at
  * 100 TB. A direct `GROUP BY token` materializes the full vocabulary
  * — billions of keys for a web corpus — when only the handful above
  * the frequency threshold matter. Misra–Gries carries at most k
  * counters per partial buffer regardless of input size; merge adds
  * counter maps and re-trims to k (subtracting the (k+1)-largest
  * count, Agarwal et al., "Mergeable Summaries", PODS'12), preserving
  * the one-pass error bound n/(k+1) across any merge tree — exactly
  * the property partial aggregation needs. Pass 2 then exact-counts
  * ONLY the ≤ k candidates (a broadcast-filtered aggregation over a
  * bounded key set) and applies the real threshold, making the final
  * answer exact and oracle-checkable even though pass 1 was
  * approximate: candidates ⊇ truth whenever threshold ≥ n/(k+1).
  *
  * Counter semantics: a miss with a full buffer decrements all k
  * counters by one and drops zeros (the classic step). The O(k) sweep
  * is amortized O(1) per input item — each sweep retires k+1 count
  * units (k stored + the missed item), so at most n/(k+1) sweeps
  * happen over n items.
  *
  * Reference behavior anchor: the bootcamp's "most common host hits"
  * aggregations (`4-apache-flink-training/src/job/aggregation_job.py`)
  * compute exact counts per host — fine for bounded hosts, not for
  * open vocabularies; this operator is the scale path for the same
  * question.
  */
class MisraGries(k: Int)
    extends Aggregator[String, Map[String, Long], Seq[String]] {
  require(k > 0, s"capacity must be positive, got $k")

  override def zero: Map[String, Long] = Map.empty

  override def reduce(buf: Map[String, Long], item: String)
      : Map[String, Long] =
    buf.get(item) match {
      case Some(c) => buf.updated(item, c + 1)
      case None if buf.size < k => buf.updated(item, 1L)
      case None =>
        // decrement-all: every stored count -1, zeros evicted. Each
        // such event burns k+1 total count units (k stored + this
        // item), so events number ≤ n/(k+1) — O(n) amortized overall.
        buf.iterator.collect {
          case (t, c) if c > 1 => (t, c - 1)
        }.toMap
    }

  override def merge(a: Map[String, Long], b: Map[String, Long])
      : Map[String, Long] = {
    val sum = b.foldLeft(a) { case (m, (t, c)) =>
      m.updated(t, m.getOrElse(t, 0L) + c)
    }
    if (sum.size <= k) sum
    else {
      // subtract the (k+1)-largest count from everything, keep
      // positives: ≤ k survivors, error grows by exactly that count —
      // the mergeable-summaries trim that keeps the global n/(k+1)
      // bound regardless of the merge tree shape
      val cut = sum.valuesIterator.toArray.sortInPlace()(
        Ordering.Long.reverse).apply(k)
      sum.collect { case (t, c) if c > cut => (t, c - cut) }
    }
  }

  override def finish(buf: Map[String, Long]): Seq[String] =
    buf.keys.toSeq.sorted

  override def bufferEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder: Encoder[Seq[String]] =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[Seq[String]]()
}

object MisraGries {
  /** `heavy_hitter_candidates(col)` — usable in `agg`; returns the
    * sorted candidate item array (superset of all items with
    * frequency > n/(k+1)).
    */
  def candidates(k: Int)(item: Column): Column =
    udaf(new MisraGries(k), Encoders.STRING).apply(item)

  /** `agg`-ready summary map — see [[MisraGriesSummary]]. */
  def summary(k: Int)(item: Column): Column =
    udaf(new MisraGriesSummary(k), Encoders.STRING).apply(item)
}

/** The same algorithm finishing to its counter MAP instead of the
  * candidate keys — the maintainable state for cross-batch
  * heavy-hitter tracking (q238_mg_incremental merges one per period):
  * per-batch summaries merge with the Agarwal-trim exactly like
  * partial buffers do inside one aggregation, so the n/(k+1)
  * candidate guarantee holds over the whole stream regardless of
  * how epochs split it.
  */
class MisraGriesSummary(k: Int)
    extends Aggregator[String, Map[String, Long], Map[String, Long]] {
  private val inner = new MisraGries(k)
  override def zero: Map[String, Long] = inner.zero
  override def reduce(b: Map[String, Long], x: String)
      : Map[String, Long] = inner.reduce(b, x)
  override def merge(a: Map[String, Long], b: Map[String, Long])
      : Map[String, Long] = inner.merge(a, b)
  override def finish(b: Map[String, Long]): Map[String, Long] = b
  override def bufferEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[Map[String, Long]]()
}
