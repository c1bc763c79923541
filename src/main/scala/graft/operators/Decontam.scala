package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Barrier
import graft.functions.TextFunctions

/** Benchmark-driven n-gram decontamination audit — the GPT-3 rule
  * (Brown et al. 2020, appendix C: train/test overlap measured as
  * colliding 13-grams) as a corpus operator. Where `q73`'s
  * contamination check flags whole documents by one PREFIX
  * fingerprint, this audits every SLIDING n-gram position: per corpus
  * document, how many of its n-grams appear anywhere in the benchmark
  * set, and the longest CONSECUTIVE run of colliding positions — the
  * span-level signal a removal pass cuts on (a 40-gram run is a
  * verbatim quotation; 3 scattered hits are phrase-level noise).
  *
  * Scale shape — the asymmetry that makes decontamination cheap:
  * benchmark suites are SMALL by construction, so their distinct gram
  * hashes BROADCAST and the corpus is touched once. Corpus text
  * leaves the plan at the scan as (doc, pos, 60-bit long) rows
  * ([[graft.plans.Md5PrefixLongs]] — the q287 discipline; text never
  * shuffles); the narrow (doc, pos, hit) stream is checkpointed once
  * for its two consumers (census + run scan); the run scan's window
  * is PARTITIONED by doc (bounded by the doc's own length) and runs
  * only over hit rows (typically a sliver). Nothing here is
  * benchmark×corpus pair-shaped.
  */
object Decontam {

  /** Per-document n-gram collision census vs a benchmark corpus.
    *
    * @param corpus    documents to audit
    * @param benchmark held-out/benchmark documents (small side —
    *                  its distinct gram set must broadcast)
    * @param n         gram width in tokens (13 = the GPT-3 rule)
    * @return one row per corpus doc that has ≥ 1 n-gram:
    *         `idCol, n_grams, n_hit, longest_run` — longest_run in
    *         GRAMS (a run of r grams = r + n − 1 contaminated
    *         tokens); 0s when clean. Docs shorter than n tokens have
    *         no grams and are absent (nothing to audit).
    */
  def ngramAudit(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    ngramAuditGrams(corpus,
      benchGramsOf(benchmark, idCol, textCol, n), idCol, textCol, n)

  /** The benchmark side alone: distinct n-gram hashes of the
    * benchmark corpus, in the exact shape [[ngramAuditGrams]]
    * broadcasts. Split out (r13) so a multi-stage pipeline whose
    * benchmark set is independent of its earlier stages (q307/q309's
    * held-out test split) can build it CONCURRENTLY with those stages
    * (guide §2.6) instead of serializing it into the audit stage.
    */
  def benchGramsOf(benchmark: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    occ(benchmark, idCol, textCol, n).select(col("hv")).distinct()
      .withColumn("_hit", lit(1))
  }

  /** [[ngramAudit]] against a PREBUILT [[benchGramsOf]] relation —
    * `ngramAudit(c, b, …) == ngramAuditGrams(c, benchGramsOf(b, …), …)`
    * by delegation.
    */
  def ngramAuditGrams(corpus: DataFrame, benchGrams: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val perGram = occ(corpus, idCol, textCol, n)
      .join(broadcast(benchGrams), Seq("hv"), "left")
      .select(col("doc"), col("pos"),
        coalesce(col("_hit"), lit(0)).as("hit"))
      .transform(Barrier(_))
    val census = perGram.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("hit")).cast("long").as("n_hit"))
    val wDoc = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val runs = perGram.filter(col("hit") === 1)
      .withColumn("_grp", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc"), col("_grp"))
      .agg(count(lit(1)).as("_runlen"))
      .groupBy(col("doc"))
      .agg(max(col("_runlen")).as("longest_run"))
    census.join(runs, Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_grams"), col("n_hit"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"))
  }

  private def occ(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = df
    .select(col(idCol).as("doc"),
      posexplode_outer(
        graft.plans.Md5PrefixLongs(
          TextFunctions.positionalShingles(col(textCol), n)))
        .as(Seq("pos", "hv")))
    .filter(col("hv").isNotNull)
}
