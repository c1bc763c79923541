package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Barrier
import graft.plans.Md5PrefixLongs

/** Distributional scoring over hashed feature spaces — the kernels
  * behind q217 (DSIR importance resampling), q218 (per-language LM
  * surprisal), and q219 (pairwise source KL). Extracted from the query
  * bodies so the property suite can drive them on arbitrary tiny
  * corpora against driver-side reference folds.
  *
  * Determinism discipline (shared with the queries): counts are exact
  * integers; the one transcendental step — ln of a ratio of those
  * integers — is floored to integer milli-nats per MODEL CELL, and all
  * downstream accumulation is integer arithmetic, immune to
  * summation-order drift across engines.
  *
  * Scale shape: one explode of the corpus into hashed features (only
  * 8-byte longs shuffle, map-side combined), a model bounded by
  * construction (B hash buckets / charset² bigrams), and scoring as a
  * broadcast join of the model back onto the feature stream.
  */
object Distributional {

  /** Default hashed-unigram feature-space width (DSIR's hashed n-gram
    * trick): every token folds into one of B md5-derived buckets, so
    * the model is B rows no matter the corpus vocabulary. */
  val DefaultBuckets = 4096

  /** Whitespace tokens → md5-prefix hash buckets, exploded.
    * Input needs `text`; output carries the other columns + `b`. */
  private def tokenBuckets(docs: DataFrame, b: Int): DataFrame = {
    import graft.functions.TextFunctions.lowerTokens
    docs
      .withColumn("_hv",
        explode_outer(Md5PrefixLongs(lowerTokens(col("text")))))
      .filter(col("_hv").isNotNull)
      .withColumn("b", col("_hv") % b)
      .drop("_hv", "text")
  }

  /** DSIR importance scores (Xie et al. 2023): every non-target doc
    * scored by the add-one-smoothed log-likelihood ratio of its hashed
    * unigrams under the target vs raw models. Input: (doc_id, source,
    * text). Output: (doc_id, source, score_mnat, n_toks), unsorted —
    * callers rank/limit.
    */
  def dsirScores(docs: DataFrame, isTarget: Column,
      b: Int = DefaultBuckets): DataFrame = {
    val tok = tokenBuckets(docs.withColumn("is_tgt", isTarget), b)
      .transform(Barrier(_)) // the model pass AND the scoring pass read it
    val m = tok.groupBy(col("b")).agg(
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tc"),
        sum(when(col("is_tgt"), 0L).otherwise(1L)).as("rc"))
      .transform(Barrier(_)) // feeds the totals AND the per-bucket LLR
    val tots = m.agg(sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
    val llr = m.crossJoin(broadcast(tots))
      .select(col("b"), floor(log(
          ((col("tc") + 1L) * (col("rt") + b)).cast("double") /
            ((col("rc") + 1L) * (col("tt") + b)).cast("double")) * 1e6)
        .cast("long").as("mnat"))
    tok.filter(!col("is_tgt"))
      .join(broadcast(llr), "b") // model is B rows by construction
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("mnat")).as("score_mnat"),
        count(lit(1)).as("n_toks"))
  }

  /** Per-document average character-bigram surprisal in floored
    * milli-nats, under a per-language conditional model
    * P(c₂|c₁) = n(c₁c₂)/n(c₁·) trained on the corpus itself.
    * Input: (doc_id, lang, text); docs shorter than 2 chars drop.
    * Output: (doc_id, lang, avg_mnat).
    */
  def surprisal(docs: DataFrame): DataFrame = {
    val bg = docs.filter(length(col("text")) >= 2)
      .select(col("doc_id"), col("lang"),
        // byte-walking kernel: the HOF form pays an interpreted
        // lambda per character and an O(n) substr re-scan per call —
        // CharBigramsSpec pins kernel ≡ HOF
        explode_outer(graft.plans.CharBigrams(col("text"))).as("g"))
      .filter(col("g").isNotNull)
    // deliberately NOT checkpointed: the model pass and the scoring
    // pass each re-run the O(n) bigram kernel off the scan — cheaper
    // than materializing a bigram stream ~6× the corpus size (75 MB
    // at sf0.1 per run; block-manager churn measured as 1.5-5.7 s
    // swings), and the 100 TB-right call for the same reason
    val bc = bg.groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("n"))
    val cc = bc.groupBy(col("lang").as("clang"),
        substring(col("g"), 1, 1).as("c"))
      .agg(sum(col("n")).as("cn"))
    val s = bc.join(cc,
        col("clang") === bc("lang") &&
          col("c") === substring(bc("g"), 1, 1))
      .select(bc("lang"), col("g"),
        floor(log(col("cn").cast("double") / col("n").cast("double"))
          * 1e6).cast("long").as("mnat"))
    // EXPLICIT broadcast of the charset²-bounded model: the
    // checkpointed bigram stream has UnknownPartitioning/no stats, and
    // left to itself the planner picked BuildLeft — broadcasting the
    // corpus-sized stream instead of the model (measured 3.3 s at
    // sf0.1; scale-fatal at 100 TB)
    bg.join(broadcast(s), Seq("lang", "g"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("mnat")).as("tot"), count(lit(1)).as("n_bg"))
      .select(col("doc_id"), col("lang"),
        expr("tot DIV n_bg").as("avg_mnat"))
  }

  /** Pairwise KL(p‖q) between per-source hashed-unigram distributions,
    * add-one smoothed over the dense B-bucket grid, reported as the
    * exact integer Σ_b (n_p(b)+1)·⌊ln(p(b)/q(b))·10⁶⌋ (KL scaled by
    * (tot_p+B)·10⁶, order-free). Input: (source, text).
    * Output: (src_p, src_q, kl_scaled) for every ordered pair p≠q.
    */
  def sourceKl(docs: DataFrame, b: Int = DefaultBuckets): DataFrame = {
    val spark = docs.sparkSession
    val c = tokenBuckets(docs, b)
      .groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("n"))
      .transform(Barrier(_)) // feeds the totals AND the dense grid
    val t = c.groupBy(col("source")).agg(sum(col("n")).as("tot"))
    val grid = t.crossJoin(spark.range(b).select(col("id").as("b")))
    val d = grid.join(c, Seq("source", "b"), "left")
      .select(col("source"), col("tot"), col("b"),
        coalesce(col("n"), lit(0L)).as("n"))
      .transform(Barrier(_)) // both sides of the pair join read it
    val p = d.select(col("source").as("src_p"), col("tot").as("tp"),
      col("b"), col("n").as("np"))
    val q = d.select(col("source").as("src_q"), col("tot").as("tq"),
      col("b"), col("n").as("nq"))
    p.join(q, Seq("b"))
      .filter(col("src_p") =!= col("src_q"))
      .groupBy(col("src_p"), col("src_q"))
      .agg(sum((col("np") + 1L) * floor(log(
          ((col("np") + 1L) * (col("tq") + b)).cast("double") /
            ((col("nq") + 1L) * (col("tp") + b)).cast("double")) * 1e6)
        .cast("long")).as("kl_scaled"))
  }
}
