package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{CountMin, CountMinSketch}

/** Streaming TURNSTILE frequency monitor: the CDC companion of
  * [[HeavyHittersMonitor]]. That monitor (Misra–Gries state) tracks an
  * append-only stream; its summary trims, so a delete can never be
  * taken back out. Here the state is a count-min grid
  * ([[graft.functions.CountMin]]) — LINEAR in the input multiset — so
  * each epoch's inserts ADD into the running grid and its deletes
  * SUBTRACT exactly, and the state after any add/delete history equals
  * the grid of the surviving multiset bit-for-bit (the spec pins that
  * as array equality, not an envelope). Per epoch, one
  * map-side-combined aggregate produces BOTH batch grids (insert and
  * delete rows of the same micro-batch); the driver merge is O(d·w)
  * on 16 KB arrays.
  *
  * A fixed key watchlist is point-queried against the running grid
  * every epoch, so a watched key's post-churn frequency (never an
  * undercount; over by at most the grid's collision mass) is visible
  * in the epoch each change lands. A delete that was never inserted
  * drives a counter negative and fails LOUDLY ([[CountMin.retract]]'s
  * guard) instead of corrupting the state — the
  * [[graft.operators.Upsert]] changelog contract, sketch-sized. The
  * merge is deterministic given (state, batch), so a replayed epoch
  * reproduces its ledger row bit-for-bit.
  */
object TurnstileMonitor {

  final case class TurnstileRow(
      epoch_id: Long, n_ins: Long, n_del: Long, cum_n: Long,
      watch_est: Map[String, Long])

  /** Both per-batch grids in ONE distributed aggregate: rows carry
    * `opCol` ('I' inserts, 'D' deletes) and `itemCol`; conditional
    * projection feeds two count-min aggregates over the same scan.
    * Exposed for the spec's cross-check.
    */
  def batchGrids(batch: DataFrame, opCol: String, itemCol: String,
      width: Int): (Array[Long], Array[Long], Long, Long) = {
    val r = batch
      .agg(
        CountMin.sketch(width)(
          when(col(opCol) === "I", col(itemCol))).as("ins"),
        CountMin.sketch(width)(
          when(col(opCol) === "D", col(itemCol))).as("del"),
        count(when(col(opCol) === "I", 1)).as("ni"),
        count(when(col(opCol) === "D", 1)).as("nd"))
      .head()
    (r.getSeq[Long](0).toArray, r.getSeq[Long](1).toArray,
      r.getLong(2), r.getLong(3))
  }

  /** foreachBatch sink; state is the running grid. */
  class Sink(
      opCol: String,
      itemCol: String,
      watchlist: Seq[String],
      load: () => Option[(Array[Long], Long)],
      save: (Array[Long], Long) => Unit,
      record: TurnstileRow => Unit,
      width: Int = CountMin.DefaultWidth)
      extends EpochSink[Array[Long]](load, save) {

    protected def step(batch: DataFrame, epochId: Long,
        prior: Option[Array[Long]]): Array[Long] = {
      val (ins, del, ni, nd) = batchGrids(batch, opCol, itemCol, width)
      val prev = prior.getOrElse(new Array[Long](CountMin.Depth * width))
      val added = new CountMinSketch(width).merge(prev.clone(), ins)
      val cur = CountMin.retract(added, del)
      val prevN = prev.slice(0, width).sum // row 0 holds every item once
      record(TurnstileRow(epochId, ni, nd, prevN + ni - nd,
        watchlist.map(k =>
          k -> CountMin.estimate(cur, k, width)).toMap))
      cur
    }
  }
}
