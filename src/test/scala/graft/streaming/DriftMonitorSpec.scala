package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkSpec

/** Drives the drift monitor end-to-end over a MemoryStream: model
  * init, steady-state (small |KL|), a vocabulary flip (KL spike),
  * replay-storm idempotence, and restart recovery via the epoch
  * watermark. The steady-state epoch's KL is also checked EXACTLY
  * against a driver-side fold of the same integer arithmetic (same
  * md5 bucket kernel, same ⌊ln·10⁶⌋ milli-nats) — the monitor is
  * q219's math in stream form, so it must match a sequential
  * re-derivation, not just "look small".
  */
class DriftMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val B = 64

  private def bucket(w: String): Long =
    graft.plans.Md5PrefixLong.hash(UTF8String.fromString(w), 15) % B

  private def countsOf(texts: Seq[String]): Map[Long, Long] =
    texts.flatMap(_.toLowerCase.split("\\s+", -1)).map(bucket)
      .groupBy(identity).map { case (b, ws) => b -> ws.size.toLong }

  /** (kl_scaled, psi_scaled) — the same integer arithmetic as
    * DriftMonitor.divergences, folded sequentially. */
  private def divRef(cur: Map[Long, Long], ref: Map[Long, Long])
      : (Long, Long) = {
    val tp = cur.values.sum; val tq = ref.values.sum
    (0L until B).map { b =>
      val np = cur.getOrElse(b, 0L); val nq = ref.getOrElse(b, 0L)
      val mnat = math.floor(math.log(
        ((np + 1) * (tq + B)).toDouble /
          ((nq + 1) * (tp + B)).toDouble) * 1e6).toLong
      val pPpm = (np + 1) * 1000000L / (tp + B)
      val qPpm = (nq + 1) * 1000000L / (tq + B)
      ((np + 1) * mnat, (pPpm - qPpm) * mnat)
    }.foldLeft((0L, 0L)) { case ((k, p), (dk, dp)) => (k + dk, p + dp) }
  }

  test("drift ledger: init, steady state matches the driver fold, " +
    "vocab flip spikes, replays and restarts are idempotent") {
    implicit val ctx = spark.sqlContext

    var store: Option[(DataFrame, Long)] = None
    def model = store.map(_._1)
    val ledger = collection.mutable.ListBuffer.empty[DriftMonitor.DriftRow]
    def mkSink() = new DriftMonitor.Sink(B,
      load = () => store,
      save = (df, e) => store = Some((df.localCheckpoint(), e)),
      record = ledger += _)
    val sink = mkSink()

    val batch1 = (1 to 20).map(i => (i.toLong, "aa bb cc aa"))
    val batch2 = (1 to 10).map(i => (i.toLong, "aa bb cc bb"))
    val batch3 = (1 to 10).map(i => (i.toLong, "xx yy zz xx"))

    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink.apply _).start()
    try {
      Seq(batch1, batch2, batch3).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()

    assert(ledger.size == 3, s"expected 3 drift rows, got $ledger")
    val Seq(r1, r2, r3) = ledger.toSeq
    assert(r1.kl_scaled == 0L && r1.n_toks == 80L, s"init row: $r1")

    // steady state: EXACT match against the sequential fold, both
    // divergences
    val (expKl2, expPsi2) = divRef(countsOf(batch2.map(_._2)),
      countsOf(batch1.map(_._2)))
    assert(r2.kl_scaled == expKl2 && r2.psi_scaled == expPsi2 &&
      r2.n_toks == 40L,
      s"epoch-1 ($r2) != fold (kl=$expKl2, psi=$expPsi2)")
    assert(r2.psi_scaled >= 0L, s"PSI terms are sign-aligned: $r2")

    // vocab flip: both divergences must dwarf the steady-state epoch
    assert(r3.kl_scaled > 10 * math.max(1L, math.abs(r2.kl_scaled)),
      s"vocab flip did not spike KL: $r3 vs $r2")
    assert(r3.psi_scaled > 10 * math.max(1L, r2.psi_scaled),
      s"vocab flip did not spike PSI: $r3 vs $r2")

    // replay storm: re-delivering an already-merged epoch must change
    // neither the ledger nor the model
    val modelBefore = model.get.as[(Long, Long)].collect().toSet
    sink.apply(batch3.toDF("doc_id", "text"), 2L)
    sink.apply(batch1.toDF("doc_id", "text"), 0L)
    assert(ledger.size == 3, "replayed epoch appended a drift row")
    assert(model.get.as[(Long, Long)].collect().toSet == modelBefore,
      "replayed epoch double-merged the model")

    // restart: a NEW sink instance, built from the store alone, must
    // recover the epoch committed with the model and still skip the
    // replay
    val restarted = mkSink()
    restarted.apply(batch3.toDF("doc_id", "text"), 2L)
    assert(ledger.size == 3 &&
      model.get.as[(Long, Long)].collect().toSet == modelBefore,
      "restarted sink replayed an epoch ≤ the persisted watermark")

    // and a genuinely NEW epoch on the restarted sink still commits
    restarted.apply(batch2.toDF("doc_id", "text"), 3L)
    assert(ledger.size == 4 && ledger.last.epoch_id == 3L,
      s"restarted sink must process new epochs: $ledger")
  }
}
