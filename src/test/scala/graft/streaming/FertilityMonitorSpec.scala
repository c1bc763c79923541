package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.operators.Bpe

/** Drives the fertility monitor over a MemoryStream: steady-state
  * fertility matches a driver-side fold of the same greedy encode,
  * a vocabulary drift (words the merge table never saw) spikes
  * fertility toward character level, and replays/restarts respect the
  * epoch watermark. Merges are learned from the first batch's own
  * word distribution so the steady-state epochs genuinely compress.
  */
class FertilityMonitorSpec extends SparkSpec {
  import spark.implicits._

  // the reference greedy encode from BpeProps, re-derived minimally:
  // apply merges in rank order, left-to-right non-overlapping
  private def encRef(word: String, merges: Seq[Bpe.Merge]): Int = {
    var syms = word.toList.map(_.toString)
    merges.foreach { m =>
      val out = List.newBuilder[String]
      var rest = syms
      while (rest.nonEmpty) rest match {
        case x :: y :: t if x == m.a && y == m.b =>
          out += (m.a + m.b); rest = t
        case x :: t => out += x; rest = t
        case Nil => ()
      }
      syms = out.result()
    }
    syms.size
  }

  private def ref(texts: Seq[String], merges: Seq[Bpe.Merge])
      : (Long, Long) = {
    val ws = texts.flatMap(_.toLowerCase.split("\\s+", -1))
      .filter(_.matches("[a-z0-9]+"))
    (ws.size.toLong, ws.map(encRef(_, merges).toLong).sum)
  }

  test("fertility ledger: steady state matches the driver fold, " +
    "vocab drift spikes, replays and restarts are idempotent") {
    implicit val ctx = spark.sqlContext

    val batch1 = (1 to 12).map(i => (i.toLong, "lower power tower lower"))
    val batch2 = (1 to 8).map(i => (i.toLong, "power lower mower"))
    val drift = (1 to 8).map(i => (i.toLong, "zq8k v9xj zq8k qv7"))

    val merges = Bpe.learn(
      batch1.map(_._2).toDF("text")
        .select(org.apache.spark.sql.functions.col("text"))
        .transform(df => Bpe.wordFreq(df,
          org.apache.spark.sql.functions.col("text"))), 6)
    assert(merges.nonEmpty)

    var store: Option[((Long, Long), Long)] = None
    def state = store.map(_._1)
    val ledger =
      collection.mutable.ListBuffer.empty[FertilityMonitor.FertilityRow]
    def mkSink() = new FertilityMonitor.Sink(merges,
      load = () => store,
      save = (s, e) => store = Some((s, e)),
      record = ledger += _)
    val sink = mkSink()

    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink.apply _).start()
    try {
      Seq(batch1, batch2, drift).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()

    assert(ledger.size == 3, s"expected 3 rows, got $ledger")
    val Seq(r1, r2, r3) = ledger.toSeq

    // steady state: exact match against the sequential fold
    val (w1, t1) = ref(batch1.map(_._2), merges)
    val (w2, t2) = ref(batch2.map(_._2), merges)
    assert(r1.n_words == w1 && r1.n_tokens == t1 &&
      r1.fertility_bp == 10000L * t1 / w1, s"epoch 0: $r1")
    assert(r2.n_words == w2 && r2.n_tokens == t2 &&
      r2.cum_fertility_bp == 10000L * (t1 + t2) / (w1 + w2),
      s"epoch 1: $r2")
    // the merges genuinely compress the in-vocabulary stream
    assert(r1.fertility_bp < 10000L * 5 / 2,
      s"steady-state fertility should sit well under char level: $r1")

    // drift: unseen vocabulary → no merge fires → fertility at char
    // level, far above steady state
    assert(r3.fertility_bp > 2 * r2.fertility_bp,
      s"vocab drift did not spike fertility: $r3 vs $r2")

    // replay: re-delivering merged epochs changes nothing
    val stateBefore = state
    sink.apply(drift.toDF("doc_id", "text"), 2L)
    sink.apply(batch1.toDF("doc_id", "text"), 0L)
    assert(ledger.size == 3 && state == stateBefore,
      "replayed epoch mutated the ledger or totals")

    // restart: fresh sink recovers the watermark; new epochs commit
    val restarted = mkSink()
    restarted.apply(drift.toDF("doc_id", "text"), 2L)
    assert(ledger.size == 3 && state == stateBefore,
      "restarted sink replayed an epoch ≤ the persisted watermark")
    restarted.apply(batch2.toDF("doc_id", "text"), 3L)
    assert(ledger.size == 4 && ledger.last.epoch_id == 3L &&
      state == Some((w1 + 2 * w2 + ref(drift.map(_._2), merges)._1,
        t1 + 2 * t2 + ref(drift.map(_._2), merges)._2)),
      s"restarted sink must commit new epochs: $ledger")
  }
}
