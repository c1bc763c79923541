package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** t-digest — a MERGEABLE quantile summary (Dunning & Ertl,
  * "Computing extremely accurate quantiles using t-digests", 2019;
  * reimplemented from the published algorithm).
  *
  * This closes the last non-algebraic aggregate family without a
  * mergeable state in the engine: HLL sketches carry COUNT DISTINCT
  * across batches (q110), Misra–Gries carries heavy hitters (q127) —
  * and percentiles previously had only the raw-data routes (exact
  * rank selection in `operators/Percentiles`, or the in-query GK
  * sketch of `percentile_approx`, which Spark does not expose as a
  * reusable partial). A t-digest is a bounded set of (mean, weight)
  * centroids whose sizes follow a scale function that concentrates
  * resolution at the tails; digests MERGE by re-clustering the union
  * of their centroids, so per-batch digests maintained in a table
  * reconstruct any period's quantiles without rescanning history —
  * the same IVM discipline as `IncrementalAgg.mergeSketches`, at a
  * few KB per key regardless of history size.
  *
  * Scale function: the paper's k₁(q) = δ/2π·asin(2q−1). A cluster may
  * absorb the next point while k(q_right) − k(q_left) ≤ 1, which
  * bounds live centroids to ~δ and makes relative rank error tightest
  * where quantiles are usually asked (tails).
  *
  * Determinism: centroid boundaries depend on input order, so the raw
  * ESTIMATE can differ across runs/partitionings by a sub-ε amount.
  * Queries therefore emit rank-envelope VERDICTS (q9/q66's policy),
  * which are stable: the error bound holds for any merge tree.
  * Estimation interpolates between centroid-midpoint ranks.
  *
  * Accuracy, measured (TDigestProps' calibration sweep, δ=100): worst
  * rank error ~0.017 for a single digest on continuous data, ~0.035
  * after one merge level, and up to ~0.063 on heavy-duplicate data,
  * where the boundary cluster mixes two atoms and interpolation lands
  * strictly between them. Envelope checks must use order-statistic
  * bounds (sorted[(q±ε)n]), not rank counts of the estimate — a count
  * jumps a whole atom's mass the instant the estimate crosses it.
  */
object TDigest {

  /** A compressed digest: parallel centroid arrays, means ascending. */
  final case class Sketch(means: Seq[Double], weights: Seq[Long])

  /** Aggregation buffer: compressed centroids + an uncompressed
    * point buffer (flushed at 4δ — the paper's buffering trick that
    * amortizes the sort/merge pass).
    */
  final case class Buf(means: Seq[Double], weights: Seq[Long],
      buf: Seq[Double])

  /** One merge pass of the k₁ scale function over weighted points. */
  private[graft] def compress(pts: Seq[(Double, Long)], delta: Int)
      : (Vector[Double], Vector[Long]) = {
    if (pts.isEmpty) return (Vector.empty, Vector.empty)
    val sorted = pts.sortBy(_._1)
    val n = sorted.iterator.map(_._2).sum.toDouble
    def k(q: Double): Double =
      delta / (2.0 * math.Pi) *
        math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)
    val ms = Vector.newBuilder[Double]
    val ws = Vector.newBuilder[Long]
    var cumLeft = 0L // weight wholly left of the open cluster
    var curW = 0L
    var curSum = 0.0
    // value-uniform clusters emit the exact value, not curSum/curW:
    // (m·w)/w loses an ulp, which matters when the cluster is a
    // single weighted point or one repeated atom — the estimate must
    // reproduce such values EXACTLY (a 1-ulp-low mean ranks below
    // every copy of the atom it summarizes)
    var curFirst = 0.0
    var curUniform = true
    def emit(): Unit = {
      ms += (if (curUniform) curFirst else curSum / curW)
      ws += curW
    }
    sorted.foreach { case (m, w) =>
      if (curW == 0L) {
        curW = w; curSum = m * w; curFirst = m; curUniform = true
      } else if (k((cumLeft + curW + w) / n) - k(cumLeft / n) <= 1.0) {
        curW += w; curSum += m * w
        if (m != curFirst) curUniform = false
      } else {
        emit()
        cumLeft += curW
        curW = w; curSum = m * w; curFirst = m; curUniform = true
      }
    }
    emit()
    (ms.result(), ws.result())
  }

  /** Quantile estimate: linear interpolation between centroid
    * MIDPOINT ranks (centroid i spans weight w_i centered at
    * prefix + w_i/2), clamped to the extreme centroid means.
    */
  private[graft] def estimate(means: IndexedSeq[Double],
      weights: IndexedSeq[Long], q: Double): Double = {
    val n = weights.sum
    if (n == 0L) return Double.NaN
    if (means.length == 1) return means.head
    val t = q * n
    val mids = new Array[Double](means.length)
    var prefix = 0L
    var i = 0
    while (i < means.length) {
      mids(i) = prefix + weights(i) / 2.0
      prefix += weights(i)
      i += 1
    }
    if (t <= mids(0)) means(0)
    else if (t >= mids(means.length - 1)) means(means.length - 1)
    else {
      val j = mids.indexWhere(_ > t) - 1 // mids(j) ≤ t < mids(j+1)
      val frac = (t - mids(j)) / (mids(j + 1) - mids(j))
      means(j) + frac * (means(j + 1) - means(j))
    }
  }

  private def flush(b: Buf, delta: Int): Buf =
    if (b.buf.isEmpty) b
    else {
      val (ms, ws) = compress(
        b.means.zip(b.weights) ++ b.buf.map((_, 1L)), delta)
      Buf(ms, ws, Nil)
    }

  private def mergeBufs(a: Buf, b: Buf, delta: Int): Buf = {
    val (fa, fb) = (flush(a, delta), flush(b, delta))
    val (ms, ws) = compress(
      fa.means.zip(fa.weights) ++ fb.means.zip(fb.weights), delta)
    Buf(ms, ws, Nil)
  }

  private def bufEncoder: Encoder[Buf] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Buf]()

  /** Double column → quantile estimates at `qs` (array, qs order). */
  class QuantilesAgg(delta: Int, qs: Seq[Double])
      extends Aggregator[Double, Buf, Seq[Double]] {
    private val cap = 4 * delta
    override def zero: Buf = Buf(Nil, Nil, Nil)
    override def reduce(b: Buf, x: Double): Buf = {
      val nb = b.copy(buf = x +: b.buf)
      if (nb.buf.size >= cap) flush(nb, delta) else nb
    }
    override def merge(a: Buf, b: Buf): Buf = mergeBufs(a, b, delta)
    override def finish(b: Buf): Seq[Double] = {
      val f = flush(b, delta)
      val (ms, ws) = (f.means.toIndexedSeq, f.weights.toIndexedSeq)
      qs.map(estimate(ms, ws, _))
    }
    override def bufferEncoder: Encoder[Buf] = bufEncoder
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[Double]]()
  }

  /** Double column → the digest itself (the maintainable state). */
  class SketchAgg(delta: Int) extends Aggregator[Double, Buf, Sketch] {
    private val inner = new QuantilesAgg(delta, Nil)
    override def zero: Buf = inner.zero
    override def reduce(b: Buf, x: Double): Buf = inner.reduce(b, x)
    override def merge(a: Buf, b: Buf): Buf = inner.merge(a, b)
    override def finish(b: Buf): Sketch = {
      val f = flush(b, delta)
      Sketch(f.means, f.weights)
    }
    override def bufferEncoder: Encoder[Buf] = bufEncoder
    override def outputEncoder: Encoder[Sketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Sketch]()
  }

  /** Sketch column → quantile estimates over the merged digest — the
    * second level: per-batch digests in, union quantiles out, raw
    * history never rescanned.
    */
  class MergeAgg(delta: Int, qs: Seq[Double])
      extends Aggregator[Sketch, Buf, Seq[Double]] {
    private val inner = new QuantilesAgg(delta, qs)
    override def zero: Buf = inner.zero
    override def reduce(b: Buf, s: Sketch): Buf =
      mergeBufs(b, Buf(s.means, s.weights, Nil), delta)
    override def merge(a: Buf, b: Buf): Buf = inner.merge(a, b)
    override def finish(b: Buf): Seq[Double] = inner.finish(b)
    override def bufferEncoder: Encoder[Buf] = bufEncoder
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[Double]]()
  }

  /** Weighted-point buffer for the weighted aggregator (parallel
    * value/weight arrays for the uncompressed tail).
    */
  final case class WBuf(means: Seq[Double], weights: Seq[Long],
      bufM: Seq[Double], bufW: Seq[Long])

  /** (value, weight) pairs → weighted quantile estimates. The digest
    * treats each row as a point of mass `weight` — the estimator for
    * "what does the median TOKEN see" questions where per-document
    * values are weighted by token counts. A single row heavier than a
    * cluster's k₁ budget stays one centroid (a digest cannot split a
    * point), so rank resolution near such an atom degrades to its
    * mass — the same caveat as duplicate atoms in the unweighted
    * case. Non-positive weights are ignored.
    */
  class WeightedQuantilesAgg(delta: Int, qs: Seq[Double])
      extends Aggregator[(Double, Long), WBuf, Seq[Double]] {
    private val cap = 4 * delta
    override def zero: WBuf = WBuf(Nil, Nil, Nil, Nil)
    private def flushW(b: WBuf): WBuf =
      if (b.bufM.isEmpty) b
      else {
        val (ms, ws) = compress(
          b.means.zip(b.weights) ++ b.bufM.zip(b.bufW), delta)
        WBuf(ms, ws, Nil, Nil)
      }
    override def reduce(b: WBuf, x: (Double, Long)): WBuf =
      if (x._2 <= 0L) b
      else {
        val nb = b.copy(bufM = x._1 +: b.bufM, bufW = x._2 +: b.bufW)
        if (nb.bufM.size >= cap) flushW(nb) else nb
      }
    override def merge(a: WBuf, b: WBuf): WBuf = {
      val (fa, fb) = (flushW(a), flushW(b))
      val (ms, ws) = compress(
        fa.means.zip(fa.weights) ++ fb.means.zip(fb.weights), delta)
      WBuf(ms, ws, Nil, Nil)
    }
    override def finish(b: WBuf): Seq[Double] = {
      val f = flushW(b)
      val (ms, ws) = (f.means.toIndexedSeq, f.weights.toIndexedSeq)
      qs.map(estimate(ms, ws, _))
    }
    override def bufferEncoder: Encoder[WBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[WBuf]()
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[Double]]()
  }

  /** `agg`-ready: the digest of a double column, as a struct. */
  def sketch(delta: Int)(col: Column): Column =
    udaf(new SketchAgg(delta), Encoders.scalaDouble).apply(col)

  /** `agg`-ready: weighted quantiles of (value, weight) columns. */
  def weightedQuantiles(delta: Int, qs: Seq[Double])(
      value: Column, weight: Column): Column =
    udaf(new WeightedQuantilesAgg(delta, qs),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
      .apply(value, weight)

  /** `agg`-ready: quantiles of the union behind a sketch column.
    * `udaf` with a product input encoder flattens the case class into
    * one argument per field, so the struct column is split here.
    */
  def mergeQuantiles(delta: Int, qs: Seq[Double])(col: Column): Column =
    udaf(new MergeAgg(delta, qs), Encoders.product[Sketch])
      .apply(col.getField("means"), col.getField("weights"))
}
