package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Barrier
import graft.functions.TextFunctions
import graft.operators.LangModel.flog2

/** Multinomial Naive Bayes over whitespace tokens with INTEGER-EXACT
  * scoring — the classic cheap document classifier a curation pipeline
  * trains on a labeled slice and sweeps over the crawl (language,
  * domain, quality-tier routing). Same no-transcendentals discipline
  * as [[LangModel]]: every Laplace-smoothed log-probability is a
  * difference of `floor(log2(integer))` values (exact in any engine
  * as binary-representation length − 1), so per-class document scores
  * are pure BIGINT "surprise bit" sums — order-free, bit-identical
  * across engines and partitionings, within 1 bit per term of the
  * real-valued log score. Classification compares SUMS of such terms,
  * where the quantization largely cancels across classes.
  *
  * Model (add-one smoothing over the pruned vocabulary V):
  *  - token bits:  bits(w|c) = ⌊log₂(N_c + |V|)⌋ − ⌊log₂(c_wc + 1)⌋
  *    (N_c = Σ_{w∈V} c_wc; an in-vocab word unseen in class c takes
  *    c_wc = 0, i.e. the class's maximum penalty)
  *  - class prior: prior_bits(c) = ⌊log₂ N_docs⌋ − ⌊log₂ N_docs_c⌋
  *  - document score(c) = prior_bits(c) + Σ_tokens bits(w|c);
  *    predict argmin, ties → lexicographically smaller label.
  *  - out-of-vocabulary tokens carry no class signal under a shared
  *    vocabulary and are DROPPED (the standard multinomial treatment);
  *    documents with zero in-vocab tokens fall back to the prior.
  *
  * Pruning is the scale contract (the [[LangModel]] argument): the
  * vocabulary is the global top-`vocabK` tokens (ties → count desc,
  * token asc — deterministic cut), so the bits table is |V|·C rows —
  * bounded — and BROADCASTS into the token stream. Scoring is
  * map-side to the per-(doc, class) combine: ONE keyed exchange plus
  * the per-doc argmin window. An unpruned web-scale vocabulary would
  * instead shuffle Zipf-skewed token keys.
  *
  * Reference anchor: the curriculum ends at GROUP-BY quality signals
  * (`3-spark-fundamentals` homework's aggregations); the trained
  * classifier over those token streams is the training-data
  * extension.
  */
object NaiveBayes {

  /** The trained model: `bits` = (w, label, w_bits) — |V|·C rows,
    * broadcastable; `classes` = (label, prior_bits, unseen_bits) —
    * C rows (unseen_bits = ⌊log₂(N_c+|V|)⌋, a word with c_wc = 0).
    */
  final case class NbModel(bits: DataFrame, classes: DataFrame)

  /** Train on a labeled slice. Both returned tables are
    * vocab/class-bounded and checkpointed — the labeled corpus is
    * touched twice (token counts, doc counts) and never again.
    */
  def train(docs: DataFrame, labelCol: String, textCol: Column,
      vocabK: Int = 65536): NbModel = {
    val toks = docs
      .select(col(labelCol).as("label"),
        explode(TextFunctions.lowerTokens(textCol)).as("w"))
    val wc0 = toks.groupBy(col("w"), col("label"))
      .agg(count(lit(1)).as("cwc"))
      .transform(Barrier(_)) // vocab prune + per-class mass both read it
    val vocab = wc0.groupBy(col("w")).agg(sum(col("cwc")).as("_tc"))
      .orderBy(col("_tc").desc, col("w")).limit(vocabK)
      .select(col("w")).transform(Barrier(_))
    val wc = wc0.join(vocab, Seq("w")) // pruned (w, label, cwc)
      .transform(Barrier(_))
    val vRows = vocab.count()
    // per-class constants over the PRUNED vocab + doc-count priors.
    // nDocs = Σ per-class doc counts — summed from the C-row count
    // table (bounded driver scalar) instead of a second full
    // `docs.count()` pass over the labeled corpus (r13, guide §1.2
    // "don't compute things twice": the count job re-ran the scan +
    // repartition exchange just to count rows the class aggregate
    // already counted)
    val classCounts = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("_ndc"))
      .transform(Barrier(_)) // C rows; prior join + the nDocs fold read it
    val nDocs = classCounts.agg(coalesce(sum(col("_ndc")), lit(0L)))
      .head().getLong(0)
    val classes = classCounts
      .join(wc.groupBy(col("label")).agg(sum(col("cwc")).as("_nc")),
        Seq("label"), "left")
      .select(col("label"),
        (flog2(lit(nDocs)) - flog2(col("_ndc"))).as("prior_bits"),
        flog2(coalesce(col("_nc"), lit(0L)) + lit(vRows))
          .as("unseen_bits"))
      .transform(Barrier(_))
    // dense |V|×C bits table: every vocab word gets a row per class
    // (unseen-in-class words at the class's max penalty), so scoring
    // is ONE broadcast join — no per-class null handling downstream
    val bits = vocab.crossJoin(classes)
      .join(wc, Seq("w", "label"), "left")
      .select(col("w"), col("label"),
        (col("unseen_bits") - flog2(coalesce(col("cwc"), lit(0L)) + 1L))
          .as("w_bits"))
      .transform(Barrier(_))
    NbModel(bits, classes)
  }

  /** Per-(doc, class) surprise-bit totals for docs with ≥ 1 in-vocab
    * token: `idCols…, label, bits, n_tok`. The bits table and the
    * C-row prior table broadcast; the ONLY exchange is the
    * (doc, class) combine — no docs×classes spine join (an earlier
    * shape joined a crossJoin spine back to these rows and planned a
    * corpus-sized SortMergeJoin; zero-token docs are handled by
    * [[predict]]'s id-only anti join instead).
    */
  def scoreBits(docs: DataFrame, idCols: Seq[String], textCol: Column,
      model: NbModel): DataFrame = {
    val id = idCols.map(col)
    docs
      .select(id :+ explode(TextFunctions.lowerTokens(textCol))
        .as("w"): _*)
      .join(broadcast(model.bits), Seq("w")) // drops OOV, fans out ×C
      .groupBy(id :+ col("label"): _*)
      .agg(sum(col("w_bits")).as("_tb"), count(lit(1)).as("n_tok"))
      .join(broadcast(model.classes.select(col("label"),
        col("prior_bits"))), Seq("label"))
      .select(id ++ Seq(col("label"),
        (col("prior_bits") + col("_tb")).as("bits"),
        col("n_tok")): _*)
  }

  /** Argmin-bits prediction: one row per doc — `idCols…, pred, bits,
    * n_tok`. Ties break to the lexicographically smaller label.
    * Docs with zero in-vocab tokens score every class at its bare
    * prior, so their argmin is ONE corpus constant — they re-attach
    * via an id-only anti join + the broadcast 1-row fallback, never a
    * corpus-wide per-class spine.
    */
  def predict(docs: DataFrame, idCols: Seq[String], textCol: Column,
      model: NbModel): DataFrame = {
    val id = idCols.map(col)
    val w = Window.partitionBy(id: _*)
      .orderBy(col("bits").asc, col("label").asc)
    val top = scoreBits(docs, idCols, textCol, model)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .withColumnRenamed("label", "pred")
    val fallback = model.classes
      .orderBy(col("prior_bits").asc, col("label").asc).limit(1)
      .select(col("label").as("pred"), col("prior_bits").as("bits"),
        lit(0L).as("n_tok"))
    val missed = docs.select(id: _*)
      .join(top.select(id: _*), idCols, "left_anti")
      .crossJoin(broadcast(fallback))
    top.unionByName(missed)
  }
}
