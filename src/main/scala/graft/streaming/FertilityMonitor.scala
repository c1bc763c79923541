package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** Streaming tokenizer-fertility monitor: every micro-batch of
  * documents is encoded with a FIXED learned merge table
  * ([[Bpe.encodeTokens]] — a pure expression chain, so it rides any
  * streaming plan unchanged) and its tokens-per-100-words fertility is
  * appended to a ledger next to the running cumulative. The production
  * failure this catches: the corpus drifts away from the vocabulary
  * the tokenizer was trained on (new language, a crawler regression,
  * markup leaking through cleaning) and fertility climbs toward
  * character level — token budgets silently buy less text. q223 is the
  * batch view of the same curve; this is its per-epoch guard.
  *
  * Per batch, the only distributed work is one map-side-combined
  * two-counter aggregate; everything integer, so ledgers are
  * bit-reproducible across replays and run widths.
  */
object FertilityMonitor {

  final case class FertilityRow(
      epoch_id: Long, n_words: Long, n_tokens: Long,
      fertility_bp: Long,      // 10000 · tokens / words, this epoch
      cum_fertility_bp: Long)  // same, over all committed epochs

  /** Per-batch (n_words, n_tokens) under `merges` — exposed for the
    * spec's driver-side cross-check and any batch caller.
    */
  def counts(batch: DataFrame, merges: Seq[Bpe.Merge]): (Long, Long) = {
    val r = batch
      .select(explode_outer(filter(split(lower(col("text")), "\\s+"),
        w => w.rlike(Bpe.WordPattern))).as("w"))
      .filter(col("w").isNotNull)
      .agg(count(lit(1)).as("nw"),
        coalesce(sum(size(Bpe.encodeTokens(col("w"), merges))), lit(0L))
          .as("nt"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def bp(tokens: Long, words: Long): Long =
    if (words == 0) 0L else 10000L * tokens / words

  /** foreachBatch sink; state is the (n_words, n_tokens) running pair. */
  class Sink(
      merges: Seq[Bpe.Merge],
      load: () => Option[((Long, Long), Long)],
      save: ((Long, Long), Long) => Unit,
      record: FertilityRow => Unit)
      extends EpochSink[(Long, Long)](load, save) {

    protected def step(batch: DataFrame, epochId: Long,
        prior: Option[(Long, Long)]): (Long, Long) = {
      val (nw, nt) = counts(batch, merges)
      val (cw, ct) = prior.getOrElse((0L, 0L))
      val (tw, tt) = (cw + nw, ct + nt)
      record(FertilityRow(epochId, nw, nt, bp(nt, nw), bp(tt, tw)))
      (tw, tt)
    }
  }
}
