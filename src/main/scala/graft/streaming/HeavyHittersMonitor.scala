package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{MisraGries, MisraGriesSummary}

/** Streaming heavy-hitter monitor: every micro-batch of items (tokens,
  * hosts, source domains) is summarized DISTRIBUTED into one bounded
  * Misra–Gries counter map ([[MisraGries.summary]] — a single
  * map-side-combined aggregate row per epoch), then merged into the
  * running summary on the driver with the Agarwal trim — ≤ k counters
  * forever, however long the stream runs and however open the
  * vocabulary. The ledger reports the epoch's own candidates next to
  * the cumulative ones, so a newly-dominant item (a crawler stuck on
  * one host, a source flooding one domain) surfaces in the epoch it
  * starts. This is the streaming form of q127's pass-1: the cumulative
  * candidate set provably ⊇ every item with true frequency >
  * n_total/(k+1) for ANY epoch split (Agarwal et al., PODS'12 —
  * MisraGriesProps proves the law under random splits), so a reader
  * needing exact counts recounts only the ≤ k candidates. Merging is
  * deterministic given (state, batch summary), so replays reproduce
  * ledger rows exactly; everything is integer.
  */
object HeavyHittersMonitor {

  final case class HeavyRow(
      epoch_id: Long, n_items: Long, cum_items: Long,
      epoch_candidates: Seq[String], cum_candidates: Seq[String],
      // any item with true cumulative count > this is guaranteed
      // present in cum_candidates
      guarantee_count: Long)

  /** Distributed per-batch summary: ONE aggregate over the batch —
    * MG partials combine map-side, a single ≤ k-entry map plus the
    * batch count reach the driver. Exposed for the spec.
    */
  def batchSummary(batch: DataFrame, itemCol: String, k: Int)
      : (Map[String, Long], Long) = {
    val r = batch.agg(
      MisraGries.summary(k)(col(itemCol)).as("mg"),
      count(col(itemCol)).as("n"))
      .head()
    (r.getMap[String, Long](0).toMap, r.getLong(1))
  }

  /** foreachBatch sink; state is (counter map ≤ k entries, total). */
  class Sink(
      itemCol: String,
      k: Int,
      load: () => Option[((Map[String, Long], Long), Long)],
      save: ((Map[String, Long], Long), Long) => Unit,
      record: HeavyRow => Unit)
      extends EpochSink[(Map[String, Long], Long)](load, save) {
    private val mg = new MisraGriesSummary(k)

    protected def step(batch: DataFrame, epochId: Long,
        prior: Option[(Map[String, Long], Long)])
        : (Map[String, Long], Long) = {
      val (bm, bn) = batchSummary(batch, itemCol, k)
      val (cm, cn) = prior.getOrElse((Map.empty[String, Long], 0L))
      val (nm, nn) = (mg.merge(cm, bm), cn + bn)
      record(HeavyRow(epochId, bn, nn,
        bm.keys.toSeq.sorted, nm.keys.toSeq.sorted,
        nn / (k + 1)))
      (nm, nn)
    }
  }
}
