package graft.streaming

import org.apache.spark.sql.DataFrame

/** The exactly-once `foreachBatch` skeleton every stateful sink in
  * this package shares — the in-Spark stand-in for the exactly-once
  * delivery the reference's Flink jobs get from checkpoints.
  *
  * Structured Streaming re-delivers an epoch after a crash (and may
  * re-run the last one on restart), and a merge is not idempotent the
  * way a batch overwrite is: a replayed epoch would merge its delta
  * twice. So the store keeps the state TOGETHER with the epoch id it
  * was committed at:
  *  - `load()` returns `(state, committedEpoch)`, or None before the
  *    first commit;
  *  - `save(state, epochId)` must persist the two atomically (write
  *    state + id to a staging location and rename, or one table
  *    transaction) and must materialize the state before returning —
  *    frames derived from the batch are only valid inside its epoch.
  *
  * [[apply]] skips every epoch at or below the stored one without
  * starting a Spark job; otherwise it runs the sink's [[step]] on the
  * batch and the prior state and saves the result with the epoch.
  * There is no in-memory watermark: a restarted sink reads the epoch
  * from the same store as the state, so it cannot merge a replay.
  * `step` may append ledger rows before returning (they ride the same
  * guard, so a replay never appends a second row); a crash between
  * that append and `save` re-runs the epoch and re-appends its row,
  * the usual at-least-once bound for a side output.
  */
abstract class EpochSink[S](
    load: () => Option[(S, Long)],
    save: (S, Long) => Unit) {

  /** One epoch's work: `prior` is the committed state (None before the
    * first commit); the returned state is saved with `epochId`. */
  protected def step(batch: DataFrame, epochId: Long, prior: Option[S]): S

  final def apply(batch: DataFrame, epochId: Long): Unit = synchronized {
    val stored = load()
    if (stored.forall(_._2 < epochId))
      save(step(batch, epochId, stored.map(_._1)), epochId)
  }
}
