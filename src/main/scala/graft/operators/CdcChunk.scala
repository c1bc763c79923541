package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Barrier
import graft.functions.{Let, TextFunctions}
import graft.plans.Md5PrefixLong

/** Content-defined chunking (the rsync/LBFS rolling-boundary idea,
  * FastCDC's batch formulation) at token granularity: a chunk boundary
  * falls AFTER token j whenever the hash of the k-token window ending
  * at j satisfies `h % m == 0`. Because the boundary decision only
  * looks at a local window, an insertion or deletion re-chunks O(1)
  * chunks and the chunking RESYNCS — every window fully inside an
  * unchanged suffix cuts at the same relative position — which is the
  * property that makes chunk-level dedup robust to edits where
  * fixed-size chunking ([[Dedup.chunkDedup]], reference
  * `4-apache-spark-training/.../dedup` homework shape) loses alignment
  * after the first shifted byte.
  *
  * Determinism: the window hash is the repo-standard 60-bit md5
  * prefix ([[graft.plans.Md5PrefixLong]]) of the space-joined window
  * tokens, so every engine sees the same cut set; expected chunk
  * length is m windows (+ the k−1 ramp) with no floor/ceiling params
  * to disagree on.
  *
  * Scale shape: chunk construction is ENTIRELY in-row (one `Let`-bound
  * tokenizer, window hashes + cut positions + chunk slices as array
  * expressions — text never explodes to token rows and never
  * shuffles); only (doc, 60-bit chunk hash) rows move into the
  * occurrence count, and the count joins back hash-keyed. Documents
  * shorter than k tokens form a single chunk (no window exists).
  */
object CdcChunk {

  /** The chunk list for one token array: token spans split after every
    * position j ∈ [k, n] whose k-window hash is ≡ 0 (mod m), each
    * chunk space-joined back to a string. Invariant (property-pinned):
    * `array_join(chunks, " ") == array_join(toks, " ")` — chunking is
    * a partition of the token sequence.
    */
  def chunksOfTokens(toks: Column, k: Int, m: Int): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(m >= 2, s"m must be >= 2, got $m")
    Let(toks) { t =>
      Let(size(t)) { n =>
        // cut positions: windows are [j-k+1, j]; sequence(k, n) would
        // DESCEND for n < k, so guard to the empty cut set
        Let(when(n >= k,
            filter(sequence(lit(k), n), j =>
              pmod(Md5PrefixLong(
                array_join(slice(t, j - k + 1, lit(k)), " ")),
                lit(m.toLong)) === 0))
          .otherwise(array().cast("array<int>"))) { cuts =>
          // last chunk always ends at n (try_element_at: ANSI-safe on
          // an empty cut set)
          Let(when(try_element_at(cuts, lit(-1)) === n, cuts)
              .otherwise(concat(cuts, array(n)))) { ends =>
            Let(concat(array(lit(1)),
                transform(slice(ends, lit(1), size(ends) - 1),
                  e => e + 1))) { starts =>
              zip_with(starts, ends,
                (s, e) => array_join(slice(t, s, e - s + 1), " "))
            }
          }
        }
      }
    }
  }

  /** Incremental arrival pattern: how much of each DELTA document
    * (`idCol > cut`) already exists in the HISTORY corpus
    * (`idCol <= cut`) at chunk granularity — `doc_id, n_chunks,
    * n_hist_dup, dup_bp = 10⁴·n_hist_dup div n_chunks`. The history
    * index is DISTINCT 60-bit chunk hashes (longs only, built once);
    * the delta probes it hash-keyed; chunk construction stays in-row
    * on both sides. CDC (not fixed-size) chunks mean a re-crawled
    * page with an inserted sentence still dedups everything after
    * the resync point.
    */
  def incrementalDupStats(docs: DataFrame, idCol: String,
      textCol: String, cut: Long, k: Int = 3, m: Int = 8): DataFrame = {
    val chunks = docs
      .select(col(idCol).as("doc_id"),
        explode(chunksOfTokens(
          TextFunctions.lowerTokens(col(textCol)), k, m)).as("chunk"))
      .select(col("doc_id"), Md5PrefixLong(col("chunk")).as("ch"))
      .transform(Barrier(_)) // history index + delta probe both read it
    val hist = chunks.filter(col("doc_id") <= cut)
      .select(col("ch")).distinct()
      .withColumn("_hit", lit(1L))
    chunks.filter(col("doc_id") > cut)
      .join(hist, Seq("ch"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hist_dup"))
      .withColumn("dup_bp",
        expr("CAST((10000 * n_hist_dup) DIV n_chunks AS BIGINT)"))
  }

  /** Per-document chunk dedup stats over a text corpus: `doc_id,
    * n_tok, n_chunks, n_dup` where n_dup counts this document's
    * chunks whose content occurs ≥ 2 times corpus-wide (including
    * within-document repeats). One in-row chunking pass; the
    * occurrence count groups 60-bit chunk hashes and joins back
    * hash-keyed — chunk text is dropped before the first shuffle.
    */
  def chunkStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, m: Int = 8): DataFrame = {
    val ch = docs
      .select(col(idCol).as("doc_id"),
        Let(TextFunctions.lowerTokens(col(textCol)))(t =>
          struct(size(t).cast("long").as("n_tok"),
            chunksOfTokens(t, k, m).as("chunks"))).as("_s"))
      .select(col("doc_id"), col("_s.n_tok").as("n_tok"),
        explode(col("_s.chunks")).as("chunk"))
      .select(col("doc_id"), col("n_tok"),
        Md5PrefixLong(col("chunk")).as("ch"))
      .transform(Barrier(_)) // occurrence count + per-doc rollup both read
    val occ = ch.groupBy(col("ch")).agg(count(lit(1)).as("cnt"))
    ch.join(occ, Seq("ch"))
      .groupBy(col("doc_id"))
      .agg(min(col("n_tok")).as("n_tok"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup"))
  }
}
