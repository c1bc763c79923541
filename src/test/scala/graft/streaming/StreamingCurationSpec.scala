package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions
import graft.operators.{Decontam, Dedup, ExactSubstr}

/** Drives [[StreamingCuration]] over a MemoryStream and proves the
  * composed law: with append-only ids, the ACCUMULATED per-stage
  * survivor set after the stream equals the BATCH ladder over the
  * union of all epochs, stage by stage (counts + id checksums + the
  * final kept set). The corpus is engineered so every stage
  * demonstrably bites during the stream — an exact copy within an
  * epoch AND one across epochs (stage 1), a verbatim splice (stage 2),
  * a half-copied doc with high shingle Jaccard but sub-half coverage
  * (stage 3), and a train doc sharing a 5-token run with a test-split
  * doc (stage 4) — so the equality is never vacuous. Replay and
  * restart respect the epoch committed with the state
  * ([[EpochSink]]), and the pure `flatMapGroupsWithState` stage-1
  * operator is pinned on BOTH arrival orders: id-ordered arrival
  * reproduces the batch min-per-fingerprint rule; out-of-order arrival
  * keeps the first arrival — the honest streaming semantics the ladder
  * sink's append-only contract exists to avoid.
  */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  // scaled-down ladder so every stage bites on a ~12-doc corpus
  // (the CurationProps convention); bands == k gives 1-row bands so
  // the engineered Jaccard-0.27 pair is a certain LSH candidate
  private val Jac = 0.25
  private val K = 16
  private val Bands = 16
  private val SubK = 3
  private val SubMinTok = 4
  private val NGram = 3

  private def mkSink(
      load: () => Option[(StreamingCuration.LadderState, Long)],
      saveF: (StreamingCuration.LadderState, Long) => Unit,
      record: StreamingCuration.EpochStats => Unit,
      benchmark: DataFrame) =
    new StreamingCuration.Sink(benchmark, load, saveF, record,
      jaccardThreshold = Jac, k = K, bands = Bands,
      substrK = SubK, substrMinTokens = SubMinTok, decontamN = NGram)

  // ---- corpus construction -------------------------------------
  // Ids are assigned in increasing order (the append-only contract);
  // the decontam pair needs a train id BELOW a test id, so those two
  // roles take the next id of their split while every other role
  // takes the next id regardless of split.

  private def uniq(tag: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$tag$i")

  private lazy val splits: Map[Long, String] = spark.range(0, 300)
    .select($"id", TextFunctions.datasetSplit($"id").as("s"))
    .as[(Long, String)].collect().toMap

  private lazy val corpus: Seq[(Long, String)] = {
    val b1 = uniq("b1w", 8)
    val b2 = uniq("b2w", 12)
    val b3 = uniq("b3w", 21)
    val shared = uniq("sharedw", 5)
    // (text, needsSplit): None = next free id, Some(s) = next id of
    // split s
    val roles: Seq[(Seq[String], Option[String])] = Seq(
      (b1, None),
      (b1, None),                                  // stage-1 prey (same epoch)
      (b2, None),
      (b3, None),
      (b2 ++ uniq("spw", 5), None),                // stage-2 prey: cov 12 of 17
      (b3.take(10) ++ uniq("p3w", 11), None),      // stage-3 prey: cov 10 of 21,
                                                   //   shingle J = 8/30 ≈ 0.27
      (uniq("t", 2) ++ shared ++ uniq("t2", 3), Some("train")), // stage-4 prey
      (uniq("e", 5) ++ shared ++ uniq("e2", 5), Some("test")),  // its benchmark hit
      (uniq("fa", 6), None),
      (b1, None),                                  // stage-1 prey (cross-epoch)
      (uniq("fb", 7), None),
      (uniq("fc", 6), None))
    var next = 0L
    roles.map { case (toks, need) =>
      val id = need match {
        case None => next
        case Some(s) => (next until 300L).find(splits(_) == s).get
      }
      next = id + 1
      (id, toks.mkString(" "))
    }
  }

  // 12 docs, id-ordered, sliced into three uneven epochs
  private lazy val epochs: Seq[Seq[(Long, String)]] = {
    val c = corpus
    Seq(c.take(5), c.slice(5, 8), c.drop(8))
  }

  private def preyIds: (Long, Long, Long, Long, Long) = {
    val c = corpus
    (c(1)._1, c(9)._1, c(4)._1, c(5)._1, c(6)._1)
  } // (copySameEpoch, copyCrossEpoch, splice, nearDup, trainContam)

  // ---- the batch reference ladder (q307's stages, these params) ----

  private def ids(df: DataFrame): Set[Long] =
    df.select($"doc_id").as[Long].collect().toSet

  private def benchmarkOf(docs: DataFrame): DataFrame =
    docs.filter(TextFunctions.datasetSplit($"doc_id") === "test")

  private def batchSets(docs: DataFrame): Seq[Set[Long]] = {
    val s1 = docs
      .select($"doc_id", TextFunctions.fingerprint($"text").as("_fp"))
      .groupBy($"_fp").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id").localCheckpoint()
    val d1 = docs.join(s1, "doc_id")
    val cov = ExactSubstr.dupSpans(d1, "doc_id", "text", SubK, SubMinTok)
      .groupBy($"doc".as("doc_id")).agg(sum($"len").as("_dup"))
    val s2 = d1
      .select($"doc_id", size(TextFunctions.lowerTokens($"text")).as("_n"))
      .join(cov, Seq("doc_id"), "left")
      .filter(coalesce($"_dup", lit(0L)) * 2 < $"_n")
      .select($"doc_id").localCheckpoint()
    val s3 = Dedup.nearDupDedup(docs.join(s2, "doc_id"), "text",
        "doc_id", Jac, K, Bands)
      .select($"doc_id").localCheckpoint()
    val train = docs.join(s3, "doc_id")
      .filter(TextFunctions.datasetSplit($"doc_id") === "train")
    val dirty = Decontam.ngramAudit(train, benchmarkOf(docs),
        "doc_id", "text", NGram)
      .filter($"longest_run" >= NGram).select($"doc_id")
    val s4 = train.select($"doc_id")
      .join(dirty, Seq("doc_id"), "left_anti")
    Seq(ids(s1), ids(s2), ids(s3), ids(s4))
  }

  test("streamed ladder == batch ladder per stage; every stage " +
      "bites; replay and restart are idempotent") {
    implicit val ctx = spark.sqlContext
    val allDocs = corpus.toDF("doc_id", "text").localCheckpoint()
    val benchmark = benchmarkOf(allDocs).localCheckpoint()

    var store: Option[(StreamingCuration.LadderState, Long)] = None
    def state = store.map(_._1)
    val stats = collection.mutable.ListBuffer
      .empty[StreamingCuration.EpochStats]
    def sinkOf() = mkSink(() => store,
      (s, e) => store = Some((StreamingCuration.LadderState(
        s.fpKept.localCheckpoint(), s.substrDocs.localCheckpoint(),
        s.bandIdx.localCheckpoint(), s.kept.localCheckpoint()), e)),
      stats += _, benchmark)
    val sink = sinkOf()

    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink.apply _).start()
    try {
      epochs.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    assert(stats.size == 3, s"expected 3 epochs, got $stats")

    // the composed law: per-stage accumulated (count, checksum) over
    // the epochs equals the batch ladder over the union
    val batch = batchSets(allDocs)
    val streamed = Seq(
      (stats.map(_.exact_n).sum, stats.map(_.exact_ck).sum),
      (stats.map(_.substr_n).sum, stats.map(_.substr_ck).sum),
      (stats.map(_.neardup_n).sum, stats.map(_.neardup_ck).sum),
      (stats.map(_.decontam_n).sum, stats.map(_.decontam_ck).sum))
    val expect = batch.map(s => (s.size.toLong, s.sum))
    assert(streamed == expect,
      s"stream/batch census diverged: $streamed vs $expect")
    assert(ids(state.get.kept) == batch(3),
      s"kept ${ids(state.get.kept)} != batch ${batch(3)}")

    // non-vacuity: the engineered prey fell at the intended stage
    val (copySame, copyCross, splice, near, contam) = preyIds
    val all = ids(allDocs)
    assert(!batch(0).contains(copySame) && !batch(0).contains(copyCross),
      "stage 1 never dropped the exact copies")
    assert(batch(0).contains(splice) && !batch(1).contains(splice),
      "stage 2 never dropped the splice")
    assert(batch(1).contains(near) && !batch(2).contains(near),
      "stage 3 never dropped the near-dup")
    assert(batch(2).contains(contam) && !batch(3).contains(contam),
      "stage 4 never dropped the contaminated train doc")
    assert(batch(3).nonEmpty, "nothing survived — corpus degenerate")
    assert(all.size == 12, s"corpus size drifted: ${all.size}")

    // the cross-epoch copy was dropped by STANDING state (its epoch-3
    // census can't have kept it)
    assert(stats(2).exact_ck ==
      (epochs(2).map(_._1).toSet -- Set(copyCross)).sum,
      s"epoch-3 exact census kept the cross-epoch copy: ${stats(2)}")

    // replay: re-delivered epochs change nothing
    sink.apply(epochs(1).toDF("doc_id", "text"), 1L)
    assert(stats.size == 3 && ids(state.get.kept) == batch(3),
      "replayed epoch mutated state or stats")

    // restart: a fresh sink recovers the watermark, then a late batch
    // with a fresh doc AND yet another copy of b1 extends state
    val restarted = sinkOf()
    restarted.apply(epochs(2).toDF("doc_id", "text"), 2L)
    assert(stats.size == 3, "restarted sink replayed ≤ watermark")
    val lateFresh = 290L
    restarted.apply(
      Seq((lateFresh, uniq("late", 6).mkString(" ")),
        (291L, corpus.head._2)).toDF("doc_id", "text"), 3L)
    assert(stats.size == 4 && stats.last.exact_n == 1 &&
      stats.last.exact_ck == lateFresh,
      s"late epoch: standing fingerprint not honored: ${stats.last}")
    val expectLate =
      if (splits(lateFresh) == "train") Set(lateFresh) else Set.empty[Long]
    assert(ids(state.get.kept) == batch(3) ++ expectLate,
      "late epoch's kept set wrong")
  }

  test("fingerprintDecisions: id-ordered arrival == batch stage 1; " +
      "out-of-order arrival keeps first arrival") {
    implicit val ctx = spark.sqlContext
    val allDocs = corpus.toDF("doc_id", "text")

    def run(name: String, batches: Seq[Seq[(Long, String)]])
        : Seq[StreamingCuration.Decision] = {
      val input = MemoryStream[(Long, String)]
      val q = StreamingCuration
        .fingerprintDecisions(input.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()
      spark.table(name).as[StreamingCuration.Decision].collect().toSeq
    }

    val decisions = run("fp_ordered", epochs)
    assert(decisions.map(_.doc_id).sorted == corpus.map(_._1).sorted,
      "every doc must get exactly one decision")
    val keptIds = decisions.filter(_.keep).map(_.doc_id).toSet
    assert(keptIds == batchSets(allDocs).head,
      s"id-ordered decisions $keptIds != batch stage 1")
    val (copySame, copyCross, _, _, _) = preyIds
    val b1Keeper = corpus.head._1
    assert(decisions.filter(d => Set(copySame, copyCross)(d.doc_id))
      .forall(d => !d.keep && d.kept_id == b1Keeper),
      "copies must point at the standing keeper")

    // out-of-order: id 50 arrives first, the SMALLER id 40 second —
    // first arrival wins (≠ batch min-id; the documented divergence)
    val text = "ooo0 ooo1 ooo2 ooo3"
    val ooo = run("fp_ooo", Seq(Seq((50L, text)), Seq((40L, text))))
    assert(ooo.toSet == Set(
      StreamingCuration.Decision(50L, keep = true, 50L),
      StreamingCuration.Decision(40L, keep = false, 50L)),
      s"out-of-order semantics drifted: $ooo")
  }
}
