package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.Barrier
import graft.functions.TextFunctions
import graft.operators.{Decontam, Dedup, ExactSubstr}

/** The STREAMING-maintained curation ladder — the third form of the
  * q307 composition (one-shot batch) and q309 (one delta vs a standing
  * corpus): documents arrive as a stream and every micro-batch is a
  * delta driven through the SAME incremental operators q309's oracle
  * law proved, against state the sink itself maintains:
  *
  *   1_exact:       min-id per fingerprint within the batch, anti-join
  *                  against the standing fingerprint set
  *   2_exactsubstr: [[ExactSubstr.incrementalDupSpans]] — batch spans
  *                  vs every doc that ENTERED stage 2 so far ∪
  *                  earlier-in-batch; standing text never re-pairs
  *                  with itself
  *   3_minhash:     [[Dedup.incrementalNearDup]] vs the maintained
  *                  band index of every stage-3 ENTRANT (survivor
  *                  indexing would lose marks — Jaccard is not
  *                  transitive; q309's depth note)
  *   4_decontam:    per-doc 13-gram audit of the batch's train split
  *                  against a STATIC held-out benchmark (stream-static
  *                  by construction: the benchmark is external to the
  *                  arriving corpus)
  *
  * Because every ladder stage only ever drops the HIGHER id of a
  * verified pair (stage 1 keeps the min per fingerprint; the substring
  * gate marks `db` with `doc_a < doc_b`; near-dup keeps the lowest id),
  * an already-kept standing doc can never be retro-dropped by a later
  * arrival — so the q309 law composes inductively over epochs:
  * under the append-only id contract (each batch's ids above all
  * previous ids — [[ExactSubstr.incrementalDupSpans]] asserts it
  * loudly), the ACCUMULATED per-stage survivor set after any prefix of
  * epochs equals the batch ladder over the union of those epochs,
  * stage by stage. `StreamingCurationSpec` proves exactly that against
  * the batch reference, plus replay/restart idempotence.
  *
  * Scale shape (the 100 TB story): per-epoch cost is delta-shaped —
  * band/shingle the batch, one equi-join per stage against the
  * standing state, exact verify on collided candidates only. State
  * grows with the curated corpus (it IS the standing corpus's
  * fingerprint set, stage-2 entrant text, and band index) and lives
  * behind the [[EpochSink]] load/save seam: in production those are
  * persisted tables (the reference's yesterday⟗today cumulation
  * pattern, `pipeline_query.sql:40-42`, applied to dedup state).
  */
object StreamingCuration {

  /** The standing state the sink maintains across epochs. All four
    * are entrant-shaped, not survivor-shaped, where the law needs it:
    *  - `fpKept`    (_fp, doc_id): kept id per fingerprint seen
    *  - `substrDocs` (doc_id, text): every stage-2 entrant so far
    *  - `bandIdx`   [[Dedup.bandIndex]] rows of every stage-3 entrant
    *  - `kept`      (doc_id): accumulated final (stage-4) survivors —
    *                the curated corpus so far
    */
  final case class LadderState(fpKept: DataFrame, substrDocs: DataFrame,
      bandIdx: DataFrame, kept: DataFrame)

  /** Per-epoch census: survivor count + id checksum per stage (the
    * q307/q309 audit convention — the SET is pinned, not just the
    * size; sum over epochs must equal the batch ladder's census).
    */
  final case class EpochStats(
      epoch_id: Long, n_docs: Long,
      exact_n: Long, exact_ck: Long,
      substr_n: Long, substr_ck: Long,
      neardup_n: Long, neardup_ck: Long,
      decontam_n: Long, decontam_ck: Long)

  /** `foreachBatch` sink driving the incremental ladder per epoch.
    *
    * @param benchmark  static held-out split (idCol/textCol shape) the
    *                   decontam stage audits against
    * @param load/save  the [[EpochSink]] store
    */
  class Sink(
      benchmark: DataFrame,
      load: () => Option[(LadderState, Long)],
      save: (LadderState, Long) => Unit,
      record: EpochStats => Unit,
      jaccardThreshold: Double = 0.8, k: Int = 16, bands: Int = 4,
      substrK: Int = 8, substrMinTokens: Int = 16, decontamN: Int = 13)
      extends EpochSink[LadderState](load, save) {

    private def bootstrap(batch: DataFrame): LadderState = {
      val empty = batch.select(col("doc_id"), col("text")).limit(0)
      LadderState(
        empty.select(TextFunctions.fingerprint(col("text")).as("_fp"),
          col("doc_id")),
        empty,
        Dedup.bandIndex(empty, "text", "doc_id", k, bands),
        empty.select(col("doc_id")))
    }

    private def census(ids: DataFrame): (Long, Long) = {
      val r = ids.agg(count(lit(1)),
        coalesce(sum(col("doc_id")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    protected def step(batch: DataFrame, epochId: Long,
        prior: Option[LadderState]): LadderState = {
      val st = prior.getOrElse(bootstrap(batch))
      val b = Barrier(batch.select(col("doc_id"), col("text")))

      // 1_exact — min id per fingerprint in the batch, minus
      // fingerprints the standing corpus already keeps
      val i1 = b
        .select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("_fp"))
        .groupBy(col("_fp")).agg(min(col("doc_id")).as("doc_id"))
        .join(st.fpKept.select(col("_fp")), Seq("_fp"), "left_anti")
        .transform(Barrier(_)) // feeds census, d1, and the state union
      val d1 = b.join(i1.select(col("doc_id")), "doc_id")
        .transform(Barrier(_)) // stage-2 entrants: census side + state

      // 2_exactsubstr — batch spans vs standing entrants ∪ earlier
      // in this batch; the operator asserts the append-only contract
      val cov = ExactSubstr.incrementalDupSpans(st.substrDocs, d1,
          "doc_id", "text", substrK, substrMinTokens)
        .groupBy(col("doc").as("doc_id")).agg(sum(col("len")).as("_dup"))
      val i2 = d1
        .select(col("doc_id"),
          size(TextFunctions.lowerTokens(col("text"))).as("_n"))
        .join(cov, Seq("doc_id"), "left")
        .filter(coalesce(col("_dup"), lit(0L)) * 2 < col("_n"))
        .select(col("doc_id")).transform(Barrier(_))
      val d2 = Barrier(b.join(i2, "doc_id"))

      // 3_minhash — vs the maintained entrant band index
      val i3 = Dedup.incrementalNearDup(st.bandIdx, d2,
          "text", "doc_id", jaccardThreshold, k, bands)
        .filter(!col("is_dup"))
        .select(col("id").as("doc_id"))
        .transform(Barrier(_))

      // 4_decontam — the batch's train split vs the static benchmark
      val train = b.join(i3, "doc_id")
        .filter(TextFunctions.datasetSplit(col("doc_id")) === "train")
      val dirty = Decontam.ngramAudit(train, benchmark,
          "doc_id", "text", decontamN)
        .filter(col("longest_run") >= decontamN)
        .select(col("doc_id"))
      val i4 = train.select(col("doc_id"))
        .join(dirty, Seq("doc_id"), "left_anti")
        .transform(Barrier(_))

      val (n1, c1) = census(i1.select(col("doc_id")))
      val (n2, c2) = census(i2)
      val (n3, c3) = census(i3)
      val (n4, c4) = census(i4)
      record(EpochStats(epochId, b.count(),
        n1, c1, n2, c2, n3, c3, n4, c4))

      LadderState(
        st.fpKept.unionByName(i1),
        st.substrDocs.unionByName(d1),
        st.bandIdx.unionByName(
          Dedup.bandIndex(d2, "text", "doc_id", k, bands)),
        st.kept.unionByName(i4))
    }
  }

  final case class Decision(doc_id: Long, keep: Boolean, kept_id: Long)

  /** Stage 1 as a PURE keyed stateful operator — the
    * `flatMapGroupsWithState` form of exact dedup, for pipelines that
    * want per-doc keep/drop DECISIONS as an append stream rather than
    * a maintained corpus table. State per fingerprint is ONE long (the
    * kept id) in the state store — keyed, horizontally partitioned,
    * RocksDB-backed at scale, no driver state and no growing
    * collection anywhere.
    *
    * Semantics: within a micro-batch the MIN id wins (so id-ordered
    * arrival reproduces the batch ladder's min-per-fingerprint rule
    * exactly — the same append-only contract the [[Sink]] documents);
    * across batches, FIRST ARRIVAL wins — the honest streaming
    * semantics when arrival order is the only order there is. A later,
    * smaller id is emitted as a drop pointing at the standing keeper
    * (`StreamingCurationSpec` pins both behaviors).
    *
    * @param docs streaming Dataset with `doc_id` (long) and `text`
    */
  def fingerprintDecisions(docs: DataFrame): Dataset[Decision] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("_fp"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, Decision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state: GroupState[Long]) =>
          val ids = rows.map(_._1).toVector.sorted
          state.getOption match {
            case Some(keeper) =>
              ids.iterator.map(Decision(_, keep = false, keeper))
            case None =>
              val keeper = ids.head
              state.update(keeper)
              Iterator.single(Decision(keeper, keep = true, keeper)) ++
                ids.tail.iterator.map(Decision(_, keep = false, keeper))
          }
      }
  }
}
