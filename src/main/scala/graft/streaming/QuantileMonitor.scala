package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TDigest

/** Streaming quantile monitor: every micro-batch of a numeric column
  * (a latency, a document length, a quality score) is digested
  * DISTRIBUTED into one t-digest ([[TDigest.sketch]] — a single
  * map-side-combined aggregate row per epoch), then merged into the
  * running digest on the driver — O(δ) centroids, a few KB, however
  * long the stream runs. The ledger reports per-epoch and cumulative
  * p50/p95, so tail regressions show the epoch they start instead of
  * being averaged away by history. This is [[FertilityMonitor]]'s
  * choreography with a mergeable SKETCH as the state instead of an
  * integer pair, and the streaming counterpart of q236's maintained
  * per-batch digest table — the quantile analogue of q110's HLL
  * maintenance.
  *
  * Merging is deterministic given (state, batch sketch), so a
  * replayed epoch reproduces the ledger row bit-for-bit. Estimates
  * carry t-digest's calibrated rank error (see [[TDigest]]'s
  * scaladoc); the spec checks them against exact order-statistic
  * envelopes, never for equality.
  */
object QuantileMonitor {

  final case class QuantileRow(
      epoch_id: Long, n_rows: Long, cum_rows: Long,
      batch_p50: Double, batch_p95: Double,
      cum_p50: Double, cum_p95: Double)

  private val Empty = TDigest.Sketch(Nil, Nil)

  /** Distributed per-batch digest: ONE aggregate over the batch —
    * partials combine map-side, a single sketch row reaches the
    * driver. Exposed for the spec's batch cross-check.
    */
  def batchSketch(batch: DataFrame, valueCol: String, delta: Int)
      : TDigest.Sketch = {
    val r = batch
      .agg(TDigest.sketch(delta)(col(valueCol).cast("double")).as("sk"))
      .select(col("sk.means"), col("sk.weights"))
      .head()
    TDigest.Sketch(r.getSeq[Double](0), r.getSeq[Long](1))
  }

  /** Driver-side merge of two bounded digests — O(δ log δ) on ≤~2δ
    * centroids, no data-sized work.
    */
  def merge(a: TDigest.Sketch, b: TDigest.Sketch, delta: Int)
      : TDigest.Sketch = {
    val pts = a.means.zip(a.weights) ++ b.means.zip(b.weights)
    if (pts.isEmpty) Empty
    else {
      val (ms, ws) = TDigest.compress(pts, delta)
      TDigest.Sketch(ms, ws)
    }
  }

  private def est(s: TDigest.Sketch, q: Double): Double =
    TDigest.estimate(s.means.toIndexedSeq, s.weights.toIndexedSeq, q)

  /** foreachBatch sink; state is the running digest. */
  class Sink(
      valueCol: String,
      load: () => Option[(TDigest.Sketch, Long)],
      save: (TDigest.Sketch, Long) => Unit,
      record: QuantileRow => Unit,
      delta: Int = 100) extends EpochSink[TDigest.Sketch](load, save) {

    protected def step(batch: DataFrame, epochId: Long,
        prior: Option[TDigest.Sketch]): TDigest.Sketch = {
      val b = batchSketch(batch, valueCol, delta)
      val cum = merge(prior.getOrElse(Empty), b, delta)
      record(QuantileRow(
        epochId, b.weights.sum, cum.weights.sum,
        est(b, 0.5), est(b, 0.95), est(cum, 0.5), est(cum, 0.95)))
      cum
    }
  }
}
