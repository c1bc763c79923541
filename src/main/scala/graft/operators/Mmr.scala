package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Barrier

/** Maximal Marginal Relevance (Carbonell & Goldstein 1998) — greedy
  * diversified top-k re-ranking: pick the candidate maximizing
  * λ·relevance − (1−λ)·max-similarity-to-already-selected. The
  * curation use is diversified sampling: a retriever's top-20 is
  * often 20 near-copies; MMR keeps the list relevant AND spread out.
  *
  * Exactness: λ is fixed at 1/2, so the argmax of the MMR score is
  * the argmax of `rel − max_sim` — pure BIGINT arithmetic when both
  * inputs are integer scores (e.g. int8-code dot products, q166's
  * codes; RRF micros). Step 1 selects by bare relevance (max over the
  * empty set contributes 0 — callers pass non-negative sims). Every
  * tie breaks (score desc, cid asc) — deterministic in both engines.
  *
  * Scale shape: the greedy loop is inherently sequential in k, so it
  * unrolls into k PLAN STEPS, each fully distributed — a per-qid
  * argmax window + a same-qid join updating the running max-sim. All
  * exchanges are keyed on qid over candidate-bounded tables (queries
  * × ≤ maxCand rows — retriever output, never the corpus); after the
  * first hash-partition every subsequent window/join reuses the qid
  * clustering. The remaining-set is checkpointed per step: each
  * step reads its predecessor TWICE (argmax + update), and without
  * the cut the recompute tree doubles per level (the q221
  * two-consumer rule, compounded).
  *
  * Reference anchor: the curriculum's ranked top-N homework
  * (`3-spark-fundamentals` ordered aggregations); the diversity
  * re-rank is the training-data extension.
  */
object Mmr {

  /** Greedy-diversify each query's candidate list to `k` items.
    *
    * @param cand (qid, cid, rel) — integer relevance, one row per
    *             candidate per query.
    * @param sims (qid, a, b, sim) — integer similarity for ORDERED
    *             candidate pairs a ≠ b of the same query (pass both
    *             directions; missing pairs read as 0). Non-negative
    *             sims keep step 1 a pure relevance argmax.
    * @return (qid, step, cid, mmr_score) — step 1..k in selection
    *         order; `mmr_score` is the exact `rel − max_sim` value at
    *         selection time (step 1: rel).
    */
  def diversifyTopK(cand: DataFrame, sims: DataFrame, k: Int)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val simsC = sims.select(col("qid"), col("a"), col("b"),
      col("sim").cast("long").as("sim")).transform(Barrier(_))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid"))
    var rem = cand
      .select(col("qid"), col("cid"), col("rel").cast("long").as("rel"),
        lit(0L).as("max_sim"))
      .transform(Barrier(_))
    var out: DataFrame = null
    for (step <- 1 to k) {
      val picked = rem
        .withColumn("score", col("rel") - col("max_sim"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("qid"), col("cid"), lit(step).as("step"),
          col("score").as("mmr_score"))
        .transform(Barrier(_)) // selection + the rem update both read it
      out = if (out == null) picked else out.unionByName(picked)
      if (step < k) {
        rem = rem
          .join(picked.select(col("qid"), col("cid").as("_p")), "qid")
          .filter(col("cid") =!= col("_p"))
          .join(simsC.withColumnRenamed("a", "cid")
              .withColumnRenamed("b", "_p")
              .withColumnRenamed("sim", "_s"),
            Seq("qid", "cid", "_p"), "left")
          .select(col("qid"), col("cid"), col("rel"),
            greatest(col("max_sim"), coalesce(col("_s"), lit(0L)))
              .as("max_sim"))
          .transform(Barrier(_))
      }
    }
    out.select(col("qid"), col("step"), col("cid"), col("mmr_score"))
  }
}
