package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

/** Drives the heavy-hitter monitor over a MemoryStream: the cumulative
  * candidate set keeps the n/(k+1) superset guarantee across epoch
  * splits, a flooding item surfaces in the epoch it starts, and
  * replays/restarts respect the epoch watermark with the counter map
  * carried across the restart.
  */
class HeavyHittersMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val K = 8

  // deterministic token batches: two persistent heavies + a spread of
  // rare tokens; epoch 3 floods a brand-new token
  private def steady(seed: Int, n: Int): Seq[String] =
    (0 until n).map { i =>
      val h = (i * 2654435761L + seed) % 100
      if (h < 30) "alpha" else if (h < 50) "beta" else s"rare_${seed}_$h"
    }

  test("heavy-hitter ledger: superset guarantee holds across epochs, " +
    "a flood surfaces in its epoch, replays and restarts idempotent") {
    implicit val ctx = spark.sqlContext

    val b1 = steady(1, 600)
    val b2 = steady(2, 500)
    val b3 = steady(3, 200) ++ Seq.fill(400)("flood")

    var store: Option[((Map[String, Long], Long), Long)] = None
    def state = store.map(_._1)
    val ledger =
      collection.mutable.ListBuffer.empty[HeavyHittersMonitor.HeavyRow]
    def mkSink() = new HeavyHittersMonitor.Sink("token", K,
      load = () => store,
      save = (s, e) => store = Some((s, e)),
      record = ledger += _)
    val sink = mkSink()

    val input = MemoryStream[String]
    val q = input.toDF().toDF("token")
      .writeStream.foreachBatch(sink.apply _).start()
    try {
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()

    assert(ledger.size == 3, s"expected 3 rows, got $ledger")
    val Seq(r1, r2, r3) = ledger.toSeq
    assert(r1.n_items == 600 && r2.n_items == 500 && r3.n_items == 600)
    assert(r3.cum_items == 1700 && r3.guarantee_count == 1700 / (K + 1))

    // superset guarantee at every epoch: true counts over the prefix
    def trueHeavy(prefix: Seq[String], guarantee: Long): Set[String] =
      prefix.groupBy(identity).collect {
        case (t, xs) if xs.size > guarantee => t
      }.toSet
    Seq((r1, b1), (r2, b1 ++ b2), (r3, b1 ++ b2 ++ b3))
      .foreach { case (r, prefix) =>
        val must = trueHeavy(prefix, r.guarantee_count)
        assert(must.subsetOf(r.cum_candidates.toSet),
          s"epoch ${r.epoch_id}: $must not all in ${r.cum_candidates}")
      }
    // the persistent heavies are candidates throughout
    assert(Set("alpha", "beta").subsetOf(r3.cum_candidates.toSet))
    // the flood surfaces in its own epoch's candidate column
    assert(!r2.cum_candidates.contains("flood"))
    assert(r3.epoch_candidates.contains("flood"))
    assert(r3.cum_candidates.contains("flood"))

    // replay below the watermark: no new row, no state change
    val stateBefore = state
    sink.apply(b3.toDF("token"), 2L)
    assert(ledger.size == 3 && state == stateBefore)

    // restart: fresh sink resumes from the watermark, next epoch
    // merges onto the restored summary
    val sink2 = mkSink()
    sink2.apply(b3.toDF("token"), 2L)
    assert(ledger.size == 3, "replay after restart must be skipped")
    val b4 = steady(4, 300)
    sink2.apply(b4.toDF("token"), 3L)
    assert(ledger.size == 4)
    val r4 = ledger.last
    assert(r4.cum_items == 2000)
    val must4 = trueHeavy(b1 ++ b2 ++ b3 ++ b4, r4.guarantee_count)
    assert(must4.subsetOf(r4.cum_candidates.toSet))
  }
}
