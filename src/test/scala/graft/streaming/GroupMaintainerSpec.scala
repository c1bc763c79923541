package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import graft.SparkSpec
import graft.operators.{Dedup, Graph}

/** Drives the streaming group maintainer over a MemoryStream: docs
  * arrive in three epochs with duplicates pointing backward across
  * epochs, the maintained labeling after the stream must be
  * IDENTICAL to a batch run over the whole corpus (pairs surface in
  * the epoch their later member arrives, so the union of epoch edges
  * is the batch edge set), per-epoch stats track the merges as they
  * happen, and replays/restarts respect the epoch watermark.
  */
class GroupMaintainerSpec extends SparkSpec {
  import spark.implicits._

  private val tA = "the quick brown fox jumps over dogs"
  private val tB = "pack my box with five dozen jugs"
  private val tC = "how vexingly quick daft zebras jump"
  private val tD = "sphinx of black quartz judge my vow"

  private val epoch1 = Seq((1L, tA), (2L, tB), (10L, tA))
  private val epoch2 = Seq((3L, tA), (4L, tC))
  private val epoch3 = Seq((5L, tB), (6L, tC), (7L, tD))
  private val corpus = epoch1 ++ epoch2 ++ epoch3

  test("streamed labeling == batch labeling; stats track merges; " +
      "replay and restart are idempotent") {
    implicit val ctx = spark.sqlContext

    var store: Option[((DataFrame, DataFrame), Long)] = None
    def state = store.map(_._1)
    val stats =
      collection.mutable.ListBuffer.empty[GroupMaintainer.EpochStats]
    def mkSink() = new GroupMaintainer.Sink(
      load = () => store,
      save = { case ((idx, lab), e) =>
        store = Some(((idx.localCheckpoint(), lab), e)) // lab pre-checkpointed
      },
      record = stats += _)
    val sink = mkSink()

    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink.apply _).start()
    try {
      Seq(epoch1, epoch2, epoch3).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()

    assert(stats.size == 3, s"expected 3 epochs, got $stats")
    val Seq(s1, s2, s3) = stats.toSeq
    assert(s1.n_docs == 3 && s1.n_pairs == 1 &&
      s1.n_groups == 1 && s1.n_grouped_docs == 2, s"epoch 0: $s1")
    // doc 3 collides-and-verifies against BOTH members of {1,10}
    assert(s2.n_docs == 2 && s2.n_pairs == 2 &&
      s2.n_groups == 1 && s2.n_grouped_docs == 3, s"epoch 1: $s2")
    // 5 joins 2's group, 6 joins 4's — two new groups, one untouched
    assert(s3.n_docs == 3 && s3.n_pairs == 2 &&
      s3.n_groups == 3 && s3.n_grouped_docs == 7, s"epoch 2: $s3")

    val streamed = state.get._2.as[(Long, Long)].collect().toSet
    assert(streamed == Set((1L, 1L), (10L, 1L), (3L, 1L),
      (2L, 2L), (5L, 2L), (4L, 4L), (6L, 4L)), s"labels: $streamed")

    // batch reference over the whole corpus: identical labeling
    val all = corpus.toDF("doc_id", "text")
    val batchPairs = Dedup.incrementalNearDupPairs(
      Dedup.bandIndex(all.limit(0), "text", "doc_id"), all,
      "text", "doc_id")
    val ref = Graph.connectedComponents(batchPairs)
      .as[(Long, Long)].collect().toSet
    assert(streamed == ref, s"streamed $streamed != batch $ref")

    // replay: re-delivering merged epochs changes nothing
    sink.apply(epoch3.toDF("doc_id", "text"), 2L)
    sink.apply(epoch1.toDF("doc_id", "text"), 0L)
    assert(stats.size == 3 &&
      state.get._2.as[(Long, Long)].collect().toSet == streamed,
      "replayed epoch mutated the labeling or the stats ledger")

    // restart: fresh sink recovers the watermark, then commits new
    // epochs — a late duplicate of doc 7 closes the last singleton
    val restarted = mkSink()
    restarted.apply(epoch3.toDF("doc_id", "text"), 2L)
    assert(stats.size == 3, "restarted sink replayed ≤ watermark")
    restarted.apply(Seq((8L, tD)).toDF("doc_id", "text"), 3L)
    assert(stats.size == 4 && stats.last.n_groups == 4 &&
      stats.last.n_grouped_docs == 9, s"post-restart: ${stats.last}")
    assert(state.get._2.as[(Long, Long)].collect().toSet ==
      streamed ++ Set((7L, 7L), (8L, 7L)), "late duplicate not merged")
  }
}
