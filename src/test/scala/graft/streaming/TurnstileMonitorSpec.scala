package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.functions.CountMin

/** Drives the turnstile monitor over a MemoryStream of (op, item)
  * change rows: the running grid equals the direct sketch of the
  * surviving multiset EXACTLY after every epoch (linearity), watched
  * keys never undercount and a delete flood surfaces in its own
  * epoch, replays respect the epoch watermark, and a restart resumes
  * from the saved grid bit-for-bit.
  */
class TurnstileMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val W = 64

  private def refSketch(items: Seq[String]): Array[Long] = {
    val g = new Array[Long](CountMin.Depth * W)
    items.foreach { it =>
      val h = CountMin.buckets(it, W)
      (0 until CountMin.Depth).foreach(j => g(j * W + h(j)) += 1L)
    }
    g
  }

  test("turnstile grid == sketch of the surviving multiset after " +
    "every epoch; delete flood visible; replay + restart idempotent") {
    implicit val ctx = spark.sqlContext

    // epoch 1: inserts only; epoch 2: churn; epoch 3: delete flood
    // of tokA (inserted 60, deleted 55)
    val e1 = Seq.fill(60)(("I", "tokA")) ++ Seq.fill(20)(("I", "tokB"))
    val e2 = Seq.fill(10)(("I", "tokB")) ++ Seq.fill(5)(("D", "tokA")) ++
      Seq.fill(15)(("I", "tokC"))
    val e3 = Seq.fill(50)(("D", "tokA")) ++ Seq.fill(5)(("I", "tokB"))
    def survivors(epochs: Seq[Seq[(String, String)]]): Seq[String] = {
      val all = epochs.flatten
      val deleted = collection.mutable.Map.empty[String, Int]
      all.filter(_._1 == "D").foreach { case (_, w) =>
        deleted(w) = deleted.getOrElse(w, 0) + 1
      }
      // delete the EARLIEST copies: multiset semantics only — the
      // grid has no order, so any subset of equal items is the same
      val out = collection.mutable.ListBuffer.empty[String]
      val toSkip = collection.mutable.Map.empty[String, Int] ++= deleted
      all.filter(_._1 == "I").foreach { case (_, w) =>
        if (toSkip.getOrElse(w, 0) > 0) toSkip(w) -= 1
        else out += w
      }
      out.toSeq
    }

    var store: Option[(Array[Long], Long)] = None
    def state = store.map(_._1)
    val ledger =
      collection.mutable.ListBuffer.empty[TurnstileMonitor.TurnstileRow]
    def mkSink() = new TurnstileMonitor.Sink("op", "w",
      watchlist = Seq("tokA", "tokB"),
      load = () => store,
      save = (s, e) => store = Some((s, e)),
      record = ledger += _,
      width = W)

    val input = MemoryStream[(String, String)]
    val q = input.toDF().toDF("op", "w")
      .writeStream.foreachBatch(mkSink().apply _).start()
    try {
      input.addData(e1); q.processAllAvailable()
      assert(state.get.sameElements(refSketch(survivors(Seq(e1)))))
      input.addData(e2); q.processAllAvailable()
      assert(state.get.sameElements(refSketch(survivors(Seq(e1, e2)))))
      input.addData(e3); q.processAllAvailable()
      assert(state.get.sameElements(
        refSketch(survivors(Seq(e1, e2, e3)))))
    } finally q.stop()

    assert(ledger.size == 3, s"expected 3 rows, got $ledger")
    val Seq(r1, r2, r3) = ledger.toSeq
    assert(r1.n_ins == 80 && r1.n_del == 0 && r1.cum_n == 80)
    assert(r2.n_ins == 25 && r2.n_del == 5 && r2.cum_n == 100)
    assert(r3.n_ins == 5 && r3.n_del == 50 && r3.cum_n == 55)

    // watched keys never undercount, and the flood lands in epoch 3:
    // tokA's estimate drops from >= 55 to exactly-bounded 0..collision
    assert(r1.watch_est("tokA") >= 60)
    assert(r2.watch_est("tokA") >= 55)
    assert(r3.watch_est("tokA") >= 0 &&
      r3.watch_est("tokA") < r2.watch_est("tokA") / 5,
      s"delete flood must be visible: $r2 -> $r3")
    assert(r3.watch_est("tokB") >= 35)

    // replayed epoch (<= watermark): skipped, state and ledger frozen
    val snap = state.get.clone()
    val replay = MemoryStream[(String, String)]
    val q2 = replay.toDF().toDF("op", "w")
      .writeStream.foreachBatch(mkSink().apply _).start()
    try { replay.addData(e1); q2.processAllAvailable() }
    finally q2.stop()
    assert(ledger.size == 3 && state.get.sameElements(snap),
      "replayed epoch must be skipped")

    // restart: a FRESH sink resumes from the saved grid; new epoch 1
    // (> nothing in the new stream's numbering... the saved watermark
    // is honored, so only epochs beyond it merge)
    val restart = MemoryStream[(String, String)]
    val sink2 = mkSink()
    val q3 = restart.toDF().toDF("op", "w")
      .writeStream.foreachBatch(sink2.apply _).start()
    try {
      restart.addData(Seq.fill(3)(("D", "tokB"))) // epoch 0 — replay
      q3.processAllAvailable()
    } finally q3.stop()
    assert(ledger.size == 3 && state.get.sameElements(snap),
      "restart must honor the saved epoch watermark")
  }
}
