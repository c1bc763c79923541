package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Barrier

/** Byte-pair-encoding induction AND application — the tokenizer-training
  * step of a pretraining pipeline (reference analogue: the token-level
  * analytics of `3-spark-fundamentals`' text homework; q198 computes one
  * induction step, this operator runs the whole loop and then encodes).
  *
  * Representation: a word is kept as a WRAPPED SYMBOL STRING — every
  * symbol individually fenced by pipes, concatenated: "key" →
  * `|k||e||y|`. One literal `replace(s, "|a||b|", "|ab|")` is then
  * EXACTLY one BPE merge sweep, because literal replace is
  * left-to-right and non-overlapping in both Spark (`UTF8String
  * .replace`) and the DuckDB oracle: `|a||a||a|` → `|aa||a|`, the
  * greedy-leftmost result for a run of three. Symbols never contain a
  * pipe (words are pre-filtered to `[a-z0-9]+`), and every symbol
  * carries its own two fences, so a pattern can neither match a symbol
  * suffix (`|xa||b|` does not contain `|a||b|`) nor share fence
  * characters with an adjacent occurrence (`|a||a||a||a|` →
  * `|aa||aa|`).
  *
  * Encoding applies the learned merges IN RANK ORDER, one full sweep
  * per rank — equivalent to the textbook "repeatedly merge the
  * lowest-ranked pair present" loop: a merge at rank r creates only
  * pairs involving the new symbol `ab`, and any learned merge
  * containing `ab` was necessarily learned after r, so once rank r's
  * sweep finishes no pair of rank ≤ r can ever reappear. (Property-
  * tested against the greedy reference in BpeProps.) That makes the
  * 100 TB encode path a chain of R codegen'd `StringReplace`
  * expressions — zero joins, zero shuffles, no UDF.
  *
  * Scale shape: the corpus is touched once, by the word-frequency
  * aggregate (map-side-combined, keyed on the word). The R learning
  * rounds run entirely on the persisted distinct-word table —
  * vocabulary-bounded, not corpus-bounded — and each round's argmax
  * materializes exactly ONE row on the driver (orderBy.limit(1), the
  * same bounded-collect class as Graph's ≤2²¹ solve). Driver state
  * after learning: R (pair, count) tuples.
  */
object Bpe {

  /** One learned merge: `a`+`b` → `a+b`, with its corpus pair count. */
  final case class Merge(a: String, b: String, cnt: Long)

  /** Words eligible for BPE: lowercase alphanumeric runs. The charset
    * guarantee is what makes the pipe-fenced representation injective.
    */
  val WordPattern = "^[a-z0-9]+$"

  /** `"key"` → `"|k||e||y|"`. */
  def wrap(word: Column): Column =
    concat(lit("|"),
      array_join(
        transform(sequence(lit(1), length(word)),
          i => substring(word, i, lit(1))),
        "||"),
      lit("|"))

  /** Wrapped symbol string → symbol array: `"|aa||b|"` → `["aa","b"]`. */
  def unwrap(wrapped: Column): Column =
    split(btrim(wrapped, lit("|")), "\\|\\|")

  /** One merge sweep on a wrapped symbol string (literal replace —
    * codegen'd, left-to-right, non-overlapping).
    */
  def mergeStep(wrapped: Column, a: String, b: String): Column =
    call_function("replace", wrapped, lit(s"|$a||$b|"), lit(s"|$a$b|"))

  /** Per-word corpus frequencies over whitespace-split lowercase text,
    * restricted to [[WordPattern]] words. The ONE corpus-wide pass of
    * the whole learn+encode pipeline.
    */
  def wordFreq(docs: DataFrame, text: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(explode_outer(split(lower(text), "\\s+")).as("w"))
      .filter($"w".rlike(WordPattern))
      .groupBy($"w")
      .agg(count(lit(1)).as("f"))
  }

  /** Learn up to `rounds` merges from a (w, f) word-frequency table.
    * Pair counting follows the standard convention — every adjacent
    * position counts, so a run of three `a`s contributes two (a,a)
    * pairs — and ties break deterministically on (count desc, a asc,
    * b asc). Stops early if no pair remains.
    *
    * Each round aggregates the vocabulary table (persisted once,
    * replace-chain recomputed per round — R² vocabulary-local sweeps
    * beat re-reading the corpus R times) and collects a single row.
    */
  def learn(wordFreq: DataFrame, rounds: Int): Seq[Merge] = {
    val spark = wordFreq.sparkSession
    import spark.implicits._
    val base = wordFreq
      .select(wrap($"w").as("s"), $"f".cast("long").as("f"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val merges = Seq.newBuilder[Merge]
      var cur = base.select($"s", $"f")
      var done = false
      var round = 0
      while (round < rounds && !done) {
        val syms = unwrap($"s")
        val n = greatest(size(syms) - 1, lit(0))
        val top = cur
          .select(
            explode(arrays_zip(slice(syms, lit(1), n), slice(syms, lit(2), n)))
              .as("p"),
            $"f")
          .groupBy($"p.0".as("a"), $"p.1".as("b"))
          .agg(sum($"f").as("cnt"))
          .orderBy($"cnt".desc, $"a", $"b")
          .limit(1)
          .as[(String, String, Long)]
          .collect()
        top.headOption match {
          case Some((a, b, cnt)) =>
            merges += Merge(a, b, cnt)
            cur = cur.withColumn("s", mergeStep($"s", a, b))
            round += 1
            // round-count-proofing (the Graph-loop discipline): the
            // replace chain grows one mergeStep per round, so analysis
            // cost over the lineage is quadratic in rounds without a
            // periodic cut. Every 16 rounds, pin the current
            // vocabulary table and restart the chain from it —
            // per-round wall time stays flat at any merge count.
            if (round % 16 == 0) cur = Barrier(cur)
          case None => done = true
        }
      }
      merges.result()
    } finally { base.unpersist(); () }
  }

  /** Encode a [[WordPattern]] word column with learned merges: the
    * rank-ordered chain of merge sweeps, returned as the token array.
    * Pure expression — safe to inline into any corpus-wide plan.
    */
  def encodeTokens(word: Column, merges: Seq[Merge]): Column =
    unwrap(merges.foldLeft(wrap(word)) { (s, m) => mergeStep(s, m.a, m.b) })

  /** Convenience: learned merges as a (rank, a, b, cnt) DataFrame. */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case (m, i) => (i + 1, m.a, m.b, m.cnt) }
      .toDF("rank", "a", "b", "cnt")
  }

  /** Merge table for a documents corpus: the word frequencies of
    * `dir`'s documents, learned for `rounds` merges. Each caller learns
    * its own table, so a query's time includes its tokenizer training.
    */
  def learnCorpus(spark: SparkSession, dir: String, rounds: Int)
      : Seq[Merge] = {
    val docs = graft.core.Tables.loadParallel(spark, dir, "documents")
    learn(wordFreq(docs, col("text")), rounds)
  }
}
