package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Barrier
import graft.functions.TextFunctions
import graft.operators.LangModel.flog2

/** BM25 sparse retrieval scoring with INTEGER-EXACT arithmetic — the
  * "find documents like this query" primitive a curation pipeline
  * uses for targeted corpus slicing (and the classic lexical
  * counterpart of the ANN operators in [[Similarity]]). Rebuilt in
  * the repo's zero-transcendental discipline so scores are BIGINT
  * and bit-identical across engines:
  *
  *  - IDF in floor-bits: the Robertson–Sparck-Jones
  *    log₂((N − df + ½)/(df + ½)) doubles to the exact rational
  *    (2N − 2df + 1)/(2df + 1), whose ⌊log₂⌋ is within a bit of
  *    `bitlen(2N − 2df + 1) − bitlen(2df + 1)` — exact integers —
  *    clamped at 0 (the Lucene rule: common terms score 0, never
  *    negative).
  *  - Term saturation with k₁ = 6/5, b = 3/4 (the standard 1.2/0.75),
  *    cleared of fractions by multiplying through with 10·T
  *    (T = total tokens, D = docs, avgdl = T/D):
  *    `sat = 22·tf·T / (10·T·tf + 3·T + 9·dl·D)` — then quantized
  *    once per (term, doc) at milli precision and SUMMED exactly
  *    (the χ²/q217 quantize-then-sum discipline):
  *    `term_milli = (1000·idf_bits·22·tf·T) div (10·T·tf + 3·T + 9·dl·D)`,
  *    all factors non-negative so floor = truncate in any engine.
  *    Products ride decimal(38,0) (oracle: HUGEINT) — 10³·2⁶·22·tf·T
  *    overflows a BIGINT at corpus scale.
  *
  * Scale shape: the corpus is touched twice (a column-pruned stats
  * pass for D/T, and the tokenize→postings pass); postings
  * checkpoint once for their two consumers (document frequency,
  * scoring). Scoring is map-side all the way to the (qid, doc)
  * combine: the query-term table and the query-restricted df table
  * BROADCAST into the postings scan — no shuffled join touches a
  * corpus-sized side — and the final top-k is a per-qid
  * row_number ≤ k (WindowGroupLimit rank pushdown). Contract: the
  * query set is operator-input-sized (thousands of terms), never a
  * second corpus.
  *
  * Reference anchor: the curriculum's ranked top-N homework
  * (`3-spark-fundamentals`); BM25 itself is the training-data
  * retrieval extension (Robertson & Zaragoza 2009).
  */
object Bm25 {

  /** Top-`k` documents per query: `qid, doc, score_milli, n_terms,
    * rnk` (rank order: score desc, doc asc — deterministic under
    * ties). `queries` must be `(qid, w)` rows — pre-distinct them if
    * a term repeats per query (BM25 query-side tf is out of scope).
    */
  def topK(docs: DataFrame, idCol: String, textCol: Column,
      queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"topK needs k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val stats = docs
      .select(size(TextFunctions.lowerTokens(textCol)).cast("long")
        .as("dl"))
      .agg(count(lit(1)).as("nd"),
        coalesce(sum(col("dl")), lit(0L)).as("tt"))
    val postings = docs
      .select(col(idCol).as("doc"),
        TextFunctions.lowerTokens(textCol).as("_t"))
      .select(col("doc"), size(col("_t")).cast("long").as("dl"),
        explode(col("_t")).as("w"))
      .groupBy(col("doc"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .transform(Barrier(_)) // document frequency + scoring both read it
    val qTerms = queries.select(col("qid"), col("w"))
    // df restricted to the query vocabulary -> broadcastable
    val dfq = postings.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .join(broadcast(qTerms.select(col("w")).distinct()), Seq("w"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_milli").desc, col("doc").asc)
    postings
      .join(broadcast(qTerms), Seq("w"))
      .join(broadcast(dfq), Seq("w"))
      .crossJoin(broadcast(stats))
      .withColumn("_ib", greatest(
        flog2(lit(2L) * col("nd") - lit(2L) * col("df") + 1L)
          - flog2(lit(2L) * col("df") + 1L), lit(0L)))
      .withColumn("_num", lit(1000L) * col("_ib") * lit(22L)
        * col("tf").cast("decimal(38,0)") * col("tt"))
      .withColumn("_den",
        lit(10L) * col("tt").cast("decimal(38,0)") * col("tf")
          + lit(3L) * col("tt") + lit(9L) * col("dl") * col("nd"))
      .withColumn("_term_milli", expr("CAST(_num DIV _den AS BIGINT)"))
      .groupBy(col("qid"), col("doc"))
      .agg(sum(col("_term_milli")).as("score_milli"),
        count(lit(1)).as("n_terms"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }
}
