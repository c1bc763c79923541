package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.functions.TDigest

/** Drives the quantile monitor over a MemoryStream: batch and
  * cumulative estimates stay inside exact order-statistic envelopes
  * (the TDigestProps-calibrated widths), a planted tail regression is
  * visible in the epoch it happens, and replays/restarts respect the
  * epoch watermark with the digest state carried across the restart.
  */
class QuantileMonitorSpec extends SparkSpec {
  import spark.implicits._

  // deterministic "latency" stream: hash-spread 10..400 ms steady
  // state; a tail epoch sends ~20% of rows to 5000+ ms
  private def mix(seed: Long, n: Int, tail: Boolean): Seq[Double] =
    (0 until n).map { i =>
      val h = (i * 2654435761L + seed) % 1000
      if (tail && h < 200) 5000.0 + h else 10.0 + (h % 390)
    }

  private def inEnv(v: Double, vals: Seq[Double], q: Double,
      eps: Double): Boolean = {
    val s = vals.sorted.toIndexedSeq
    val n = s.size
    val lo = s(math.max(0, math.floor((q - eps) * n).toInt - 1))
    val hi = s(math.min(n - 1, math.ceil((q + eps) * n).toInt + 1))
    lo <= v && v <= hi
  }

  test("quantile ledger: estimates inside exact envelopes, tail " +
    "spike surfaces in its epoch, replays and restarts idempotent") {
    implicit val ctx = spark.sqlContext

    val b1 = mix(1, 800, tail = false)
    val b2 = mix(2, 700, tail = false)
    val b3 = mix(3, 600, tail = true)

    var store: Option[(TDigest.Sketch, Long)] = None
    def state = store.map(_._1)
    val ledger =
      collection.mutable.ListBuffer.empty[QuantileMonitor.QuantileRow]
    def mkSink() = new QuantileMonitor.Sink("latency_ms",
      load = () => store,
      save = (s, e) => store = Some((s, e)),
      record = ledger += _)
    val sink = mkSink()

    val input = MemoryStream[Double]
    val q = input.toDF().toDF("latency_ms")
      .writeStream.foreachBatch(sink.apply _).start()
    try {
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()

    assert(ledger.size == 3, s"expected 3 rows, got $ledger")
    val Seq(r1, r2, r3) = ledger.toSeq
    assert(r1.n_rows == 800 && r2.n_rows == 700 && r3.n_rows == 600)
    assert(r3.cum_rows == 2100)

    // TDigestProps-calibrated envelopes: single digest 0.03, merged
    // (cumulative rides one merge per epoch) 0.06
    assert(inEnv(r1.batch_p50, b1, 0.5, 0.03), s"r1 p50: $r1")
    assert(inEnv(r1.batch_p95, b1, 0.95, 0.03), s"r1 p95: $r1")
    assert(inEnv(r2.cum_p50, b1 ++ b2, 0.5, 0.06), s"r2 cum p50: $r2")
    assert(inEnv(r2.cum_p95, b1 ++ b2, 0.95, 0.06), s"r2 cum p95: $r2")
    val all3 = b1 ++ b2 ++ b3
    assert(inEnv(r3.cum_p50, all3, 0.5, 0.06), s"r3 cum p50: $r3")
    assert(inEnv(r3.cum_p95, all3, 0.95, 0.06), s"r3 cum p95: $r3")

    // the tail regression surfaces the epoch it happens: the batch
    // p95 jumps an order of magnitude while steady epochs agree
    assert(r3.batch_p95 > 10 * r2.batch_p95,
      s"tail epoch should spike batch p95: $r2 -> $r3")
    assert(r2.batch_p95 < 2 * r1.batch_p95)

    // replay below the watermark: no new row, no state change
    val stateBefore = state
    sink.apply(b3.toDF("latency_ms"), 2L)
    assert(ledger.size == 3 && state == stateBefore)

    // restart: a fresh sink resumes from the persisted watermark —
    // the replayed epoch is skipped, the next epoch merges onto the
    // RESTORED digest
    val sink2 = mkSink()
    sink2.apply(b3.toDF("latency_ms"), 2L)
    assert(ledger.size == 3, "replay after restart must be skipped")
    val b4 = mix(4, 500, tail = false)
    sink2.apply(b4.toDF("latency_ms"), 3L)
    assert(ledger.size == 4)
    val r4 = ledger.last
    assert(r4.cum_rows == 2600)
    assert(inEnv(r4.cum_p50, all3 ++ b4, 0.5, 0.06), s"r4 cum p50: $r4")
    assert(inEnv(r4.cum_p95, all3 ++ b4, 0.95, 0.06), s"r4 cum p95: $r4")
  }
}
