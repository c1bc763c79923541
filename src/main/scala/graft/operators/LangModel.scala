package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Barrier
import graft.functions.TextFunctions

/** Word-bigram backoff language model with INTEGER-EXACT scoring —
  * the CCNet-style quality gate (train a small LM on a trusted slice,
  * score every crawl document, filter by perplexity band) rebuilt so
  * that no transcendental ever executes: every per-transition
  * "surprise" is a difference of `floor(log2(count))` values, and
  * floor-log2 of a positive integer is computed EXACTLY in any engine
  * as `length(binary-string) − 1` (Spark `conv(c, 10, 2)`, DuckDB
  * `bin(c)`). That quantizes each log-likelihood term to whole bits —
  * within 1 bit of the true Stupid-Backoff surprisal — but makes
  * document scores pure BIGINT sums: order-free, bit-identical across
  * engines, partitionings, and reruns. The char-bigram scorer (q218)
  * keeps exact milli-nat precision at the cost of a floored `ln`; this
  * operator is the other end of the trade — a coarser unit, zero
  * floating point.
  *
  * Model (Stupid Backoff, Brants et al. 2007, with α fixed at 1/2 so
  * the backoff penalty is exactly ONE bit):
  *  - seen bigram:  bits = ⌊log₂ c(w₁)⌋ − ⌊log₂ c(w₁w₂)⌋
  *  - else:         bits = 1 + ⌊log₂ (N+V)⌋ − ⌊log₂ (c(w₂)+1)⌋
  *    (add-one unigram over the PRUNED vocabulary; an unseen w₂ takes
  *    c(w₂) = 0, i.e. the maximum penalty)
  *
  * Pruning is part of the contract, not an optimization: production
  * LMs ship pruned (CCNet's KenLM models do), and the top-K tables —
  * ties broken by (count desc, word) so the cut is deterministic —
  * are what keeps the 100 TB scoring pass shuffle-free: both model
  * tables are K-bounded, so they BROADCAST into the transition stream
  * and scoring is map-side all the way to the per-document combine.
  * Unpruned web-scale bigram tables would instead force a shuffle
  * join keyed on (w₁,w₂) with Zipf-skewed probe keys.
  *
  * Train cost: two aggregates over the trusted slice (unigrams,
  * bigrams) — the slice is read twice, its token stream is never
  * materialized. The vocab-bounded count tables checkpoint so
  * the four downstream consumers (prune, constants, c₁ attach,
  * scoring joins) never re-touch the corpus.
  */
object LangModel {

  /** ⌊log₂ c⌋ for a positive integral column, exactly:
    * one minus the length of the minimal binary representation.
    */
  def flog2(c: Column): Column =
    (length(conv(c.cast("string"), 10, 2)) - 1).cast("long")

  /** The pruned model: `bi` = (w1, w2, c12, c1) top-`biK` bigrams
    * with their left-unigram count attached; `uni` = (w, c) top-`uniK`
    * unigrams; `nTokens`/`vocab` = Σc and row count of `uni` (the
    * add-one denominator constants).
    */
  final case class BigramLm(bi: DataFrame, uni: DataFrame,
      nTokens: Long, vocab: Long)

  /** Per-document transition pairs (w1, w2), staged in-row: tokenize
    * once, slice the token array against itself, zip, ONE explode.
    * Every array expression is staged to an attribute before the next
    * consumes it (the interpreted-lambda / generator re-eval
    * discipline from TextFunctions.shinglesOfTokens).
    */
  def transitions(docs: DataFrame, carryCols: Seq[String],
      textCol: Column): DataFrame = {
    val carry = carryCols.map(col)
    docs
      .select(carry :+ TextFunctions.lowerTokens(textCol).as("_t"): _*)
      .filter(size(col("_t")) >= 2)
      .select(carry
        :+ slice(col("_t"), lit(1), size(col("_t")) - 1).as("_a")
        :+ slice(col("_t"), lit(2), size(col("_t")) - 1).as("_b"): _*)
      .select(carry :+ arrays_zip(col("_a"), col("_b")).as("_ab"): _*)
      .select(carry :+ explode(col("_ab")).as("_z"): _*)
      .select(carry :+ col("_z._a").as("w1") :+ col("_z._b").as("w2"): _*)
  }

  /** Train the pruned bigram model on `docs` (the trusted slice). */
  def trainBigram(docs: DataFrame, textCol: Column,
      biK: Int = 65536, uniK: Int = 65536): BigramLm = {
    val uni0 = docs
      .select(explode(TextFunctions.lowerTokens(textCol)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .transform(Barrier(_)) // vocab-bounded; feeds prune + c1 attach
    val uni = uni0.orderBy(col("c").desc, col("w")).limit(uniK)
      .transform(Barrier(_))
    val bi = transitions(docs, Seq.empty, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .orderBy(col("c12").desc, col("w1"), col("w2")).limit(biK)
      .join(uni0.withColumnRenamed("w", "w1")
        .withColumnRenamed("c", "c1"), Seq("w1"))
      .transform(Barrier(_))
    val Array(row) = uni.agg(
      sum(col("c")).as("n"), count(lit(1)).as("v")).collect()
    BigramLm(bi, uni, row.getLong(0), row.getLong(1))
  }

  /** Train the TARGET (the `isTarget` slice) and SOURCE (all of
    * `docs`) pruned models from ONE corpus read per stage — the
    * two-consumer fusion rule applied to training itself. The naive
    * composition ([[trainBigram]] on the slice, then again on the
    * whole corpus — how q269/q275 shipped through round 12's build)
    * tokenizes the corpus four times; here the unigram aggregate and
    * the transition aggregate each run once with a CONDITIONAL count
    * (`count(when(isTarget, 1))`) carrying the slice's tally
    * alongside the corpus tally, and the K-bounded prune/attach work
    * happens per model on the already-tiny count tables.
    *
    * Exactness: the slice's unigram counts are exactly the rows with
    * a positive conditional count (`_ct > 0` — a word absent from the
    * slice never appears in the slice-only aggregate either), the
    * top-K order `(count DESC, word…)` is evaluated on identical
    * counts, and the c₁ attach joins the same per-model unigram
    * relation — so both returned models are ROW-IDENTICAL to the
    * two-pass composition (LangModelPairSpec pins this against
    * [[trainBigram]] itself, plus downstream contrastBits equality).
    *
    * @param isTarget per-document predicate selecting the target slice
    *                 (must be deterministic; evaluated once per doc)
    */
  def trainBigramPair(docs: DataFrame, isTarget: Column,
      textCol: Column, biK: Int = 65536, uniK: Int = 65536)
      : (BigramLm, BigramLm) = {
    val d = docs.withColumn("_isT", isTarget)
    val uniBoth = d
      .select(col("_isT"), explode(TextFunctions.lowerTokens(textCol))
        .as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("_cs"),
        count(when(col("_isT"), 1)).as("_ct"))
      .transform(Barrier(_)) // feeds both prunes + both c1 attaches
    val biBoth = transitions(d, Seq("_isT"), textCol)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("_cs12"),
        count(when(col("_isT"), 1)).as("_ct12"))
      .transform(Barrier(_)) // feeds both bigram prunes
    def model(cUni: String, cBi: String): BigramLm = {
      val uni0 = uniBoth.filter(col(cUni) > 0)
        .select(col("w"), col(cUni).as("c"))
      val uni = uni0.orderBy(col("c").desc, col("w")).limit(uniK)
        .transform(Barrier(_))
      val bi = biBoth.filter(col(cBi) > 0)
        .select(col("w1"), col("w2"), col(cBi).as("c12"))
        .orderBy(col("c12").desc, col("w1"), col("w2")).limit(biK)
        .join(uni0.withColumnRenamed("w", "w1")
          .withColumnRenamed("c", "c1"), Seq("w1"))
        .transform(Barrier(_))
      val Array(row) = uni.agg(
        sum(col("c")).as("n"), count(lit(1)).as("v")).collect()
      BigramLm(bi, uni, row.getLong(0), row.getLong(1))
    }
    (model("_ct", "_ct12"), model("_cs", "_cs12"))
  }

  /** Integer surprise-bit totals per document: `idCols…, d_bits, d_n`
    * (docs with fewer than 2 tokens score nothing and are absent).
    * Both model tables broadcast (K-bounded AND checkpointed — the
    * explicit-broadcast-on-checkpointed-input rule); the only
    * exchange is the per-document combine.
    */
  def scoreBits(docs: DataFrame, idCols: Seq[String], textCol: Column,
      lm: BigramLm): DataFrame = {
    val oovBits =
      lit(1L) + flog2(lit(lm.nTokens + lm.vocab)) - flog2(col("_cu") + 1L)
    transitions(docs, idCols, textCol)
      .join(broadcast(lm.bi), Seq("w1", "w2"), "left")
      .join(broadcast(lm.uni
        .withColumnRenamed("w", "w2").withColumnRenamed("c", "_cu0")),
        Seq("w2"), "left")
      .withColumn("_cu", coalesce(col("_cu0"), lit(0L)))
      .withColumn("_bits",
        when(col("c12").isNotNull, flog2(col("c1")) - flog2(col("c12")))
          .otherwise(oovBits))
      .groupBy(idCols.map(col): _*)
      .agg(sum(col("_bits")).as("d_bits"), count(lit(1)).as("d_n"))
  }

  /** DSIR-style importance contrast (Xie et al. 2023's
    * log p_target − log p_source, in this model family's exact
    * surprise bits): score every document under a TARGET model (the
    * distribution you want more of) and a SOURCE model (the
    * distribution you have) in ONE pass, and emit
    * `w_bits = s_bits − t_bits` — positive means the document reads
    * more target-like than the corpus average; rank/sample by it.
    *
    * Scale shape: identical to [[scoreBits]] except all FOUR pruned
    * model tables broadcast into a single transition stream — one
    * tokenize, one explode, one per-document combine. Calling
    * scoreBits twice would re-run the corpus pass per model; this is
    * the two-consumer fusion rule applied at the operator level.
    * Output: `idCols…, t_bits, s_bits, w_bits, d_n` (docs with < 2
    * tokens are absent, as in scoreBits).
    */
  def contrastBits(docs: DataFrame, idCols: Seq[String],
      textCol: Column, target: BigramLm, source: BigramLm)
      : DataFrame = {
    def modelBits(tag: String, lm: BigramLm) = {
      val oov = lit(1L) + flog2(lit(lm.nTokens + lm.vocab)) -
        flog2(coalesce(col(s"_cu$tag"), lit(0L)) + 1L)
      when(col(s"_c12$tag").isNotNull,
        flog2(col(s"_c1$tag")) - flog2(col(s"_c12$tag"))).otherwise(oov)
    }
    def biT(tag: String, lm: BigramLm) = lm.bi.select(col("w1"),
      col("w2"), col("c12").as(s"_c12$tag"), col("c1").as(s"_c1$tag"))
    def uniT(tag: String, lm: BigramLm) = lm.uni.select(
      col("w").as("w2"), col("c").as(s"_cu$tag"))
    transitions(docs, idCols, textCol)
      .join(broadcast(biT("t", target)), Seq("w1", "w2"), "left")
      .join(broadcast(uniT("t", target)), Seq("w2"), "left")
      .join(broadcast(biT("s", source)), Seq("w1", "w2"), "left")
      .join(broadcast(uniT("s", source)), Seq("w2"), "left")
      .withColumn("_bt", modelBits("t", target))
      .withColumn("_bs", modelBits("s", source))
      .groupBy(idCols.map(col): _*)
      .agg(sum(col("_bt")).as("t_bits"), sum(col("_bs")).as("s_bits"),
        count(lit(1)).as("d_n"))
      .withColumn("w_bits", col("s_bits") - col("t_bits"))
  }
}
