package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Barrier
import graft.operators.{Dedup, Graph}

/** Streaming near-dup GROUP maintenance: every arriving micro-batch
  * of documents is banded against the maintained MinHash-LSH index
  * ([[Dedup.incrementalNearDupPairs]] — history text is never
  * re-read), the verified pairs close into the maintained component
  * labeling through [[Graph.incrementalComponents]] (Δ-bounded
  * contracted solve, label table updated map-side), and the batch's
  * own bands append to the index. The union of per-epoch pair sets
  * equals the batch-mode pair set — each pair surfaces in the epoch
  * its later member arrives — so the final labeling is identical to
  * a full offline run (spec-proven), while per-epoch cost stays
  * delta-shaped: band the batch, one bucket join, verify collisions,
  * solve a delta-sized graph.
  */
object GroupMaintainer {

  final case class EpochStats(
      epoch_id: Long, n_docs: Long, n_pairs: Long,
      n_groups: Long,       // components with ≥2 members so far
      n_grouped_docs: Long) // docs inside those components

  /** foreachBatch sink; state is the (band index, labels) pair. */
  class Sink(
      load: () => Option[((DataFrame, DataFrame), Long)],
      save: ((DataFrame, DataFrame), Long) => Unit,
      record: EpochStats => Unit,
      jaccardThreshold: Double = 0.8, k: Int = 16, bands: Int = 4)
      extends EpochSink[(DataFrame, DataFrame)](load, save) {

    protected def step(batch: DataFrame, epochId: Long,
        prior: Option[(DataFrame, DataFrame)]): (DataFrame, DataFrame) = {
      val (index, labels) = prior.getOrElse {
        // bootstrap: schema-correct empties derived from the batch
        (Dedup.bandIndex(batch.limit(0), "text", "doc_id", k, bands),
          batch.limit(0).select(col("doc_id").as("id"),
            col("doc_id").as("comp")))
      }
      val pairs = Dedup.incrementalNearDupPairs(index, batch,
          "text", "doc_id", jaccardThreshold, k, bands)
        .transform(Barrier(_)) // consumed by the CC solve AND the count
      val newLabels = Graph.incrementalComponents(labels, pairs)
        .transform(Barrier(_)) // one materialization for stats + save
      val newIndex = index.unionByName(
        Dedup.bandIndex(batch, "text", "doc_id", k, bands))
      val g = newLabels.groupBy(col("comp"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
        .agg(coalesce(count(lit(1)), lit(0L)).as("g"),
          coalesce(sum(col("n")), lit(0L)).as("m"))
        .head()
      record(EpochStats(epochId, batch.count(), pairs.count(),
        g.getLong(0), g.getLong(1)))
      (newIndex, newLabels)
    }
  }
}
