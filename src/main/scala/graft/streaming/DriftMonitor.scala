package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Barrier
import graft.operators.{Distributional, IncrementalAgg}

/** Streaming distribution-drift monitor: every micro-batch of
  * documents is scored against the ACCUMULATED reference model before
  * being merged into it — the in-stream form of q219's source-KL
  * check, and the guard a 100 TB ingestion pipeline runs so a
  * crawler regression / source flip shows up as a KL spike in the
  * drift ledger, not six weeks later in model evals.
  *
  * Composition, not new machinery: per-batch hashed-unigram counts are
  * [[Distributional.bucketCounts]] (a B-bounded mergeable partial),
  * the model accumulates via [[IncrementalAgg.mergePartials]], the
  * divergence is the same order-free integer-KL as q219, and the
  * exactly-once rule is [[EpochSink]]'s.
  *
  * Scale shape: the only distributed work per batch is one
  * map-side-combined count aggregate over the batch; the KL compare
  * runs on two ≤ B-row frames.
  */
object DriftMonitor {

  /** Scaled integer KL(cur‖ref) and PSI(cur, ref) plus cur's token
    * total, computed over the dense B-bucket grid with add-one
    * smoothing. KL is bit-identical to q219's per-pair arithmetic
    * (⌊ln·10⁶⌋ per bucket, weighted by raw counts, integer sum ≈
    * KL·(tp+B)·10⁶). PSI — the industry-standard drift index
    * Σ(p−q)·ln(p/q) — quantizes each probability to integer ppm
    * (⌊(n+1)·10⁶ / (tot+B)⌋) before the difference, so its
    * accumulation is integer and order-free too (≈ PSI·10¹²; every
    * term is ≥ 0 since p−q and ln(p/q) share sign, so quantization
    * never cancels wrongly). Both inputs are (b, n) bucket-count
    * frames with ≤ B rows.
    */
  def divergences(cur: DataFrame, ref: DataFrame, b: Int)
      : (Long, Long, Long) = {
    val spark = cur.sparkSession
    val d = spark.range(b).select(col("id").as("b"))
      .join(cur.select(col("b"), col("n").as("np")), Seq("b"), "left")
      .join(ref.select(col("b"), col("n").as("nq")), Seq("b"), "left")
      .select(coalesce(col("np"), lit(0L)).as("np"),
        coalesce(col("nq"), lit(0L)).as("nq"))
      .transform(Barrier(_)) // totals pass + term pass on ≤ B rows
    val t = d.agg(sum(col("np")), sum(col("nq"))).head()
    val (tp, tq) = (t.getLong(0), t.getLong(1))
    val mnat = floor(log(
      ((col("np") + 1L) * lit(tq + b)).cast("double") /
        ((col("nq") + 1L) * lit(tp + b)).cast("double")) * 1e6)
      .cast("long")
    val pPpm = expr(s"(np + 1L) * 1000000L DIV ${tp + b}L")
    val qPpm = expr(s"(nq + 1L) * 1000000L DIV ${tq + b}L")
    val r = d.agg(
      sum((col("np") + 1L) * mnat).as("kl"),
      sum((pPpm - qPpm) * mnat).as("psi")).head()
    (r.getLong(0), r.getLong(1), tp)
  }

  /** One drift-ledger row per committed epoch. kl/psi are 0 for the
    * epoch that initializes the model (nothing to compare against). */
  final case class DriftRow(epoch_id: Long, n_toks: Long,
      kl_scaled: Long, psi_scaled: Long)

  /** foreachBatch sink; state is the (b, n) model. `record` appends
    * to the drift ledger.
    */
  class Sink(
      b: Int,
      load: () => Option[(DataFrame, Long)],
      save: (DataFrame, Long) => Unit,
      record: DriftRow => Unit) extends EpochSink[DataFrame](load, save) {

    protected def step(batch: DataFrame, epochId: Long,
        prior: Option[DataFrame]): DataFrame = {
      // checkpoint: the counts feed the KL compare AND the merge,
      // and foreachBatch frames must not be recomputed across jobs
      val counts = Barrier(Distributional.bucketCounts(batch, b))
      prior match {
        case Some(model) =>
          val (kl, psi, nToks) = divergences(counts, model, b)
          record(DriftRow(epochId, nToks, kl, psi))
          IncrementalAgg.mergePartials(model, counts, Seq("b"), Seq("n"))
        case None =>
          val nToks = counts.agg(sum(col("n"))).head() match {
            case r if r.isNullAt(0) => 0L
            case r => r.getLong(0)
          }
          record(DriftRow(epochId, nToks, 0L, 0L))
          counts
      }
    }
  }
}
