package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
  * MOSS algorithm): hash every k-gram, then in every window of `w`
  * consecutive k-gram hashes keep the minimum — the selection is
  * LOCAL, so any shared token run of length ≥ w + k − 1 between two
  * documents is GUARANTEED to share a selected fingerprint, while
  * expected density stays 2/(w+1) of the full k-gram set. This is the
  * robust middle ground between full-shingle contamination checks
  * (q189 — exhaustive but k·|doc| fingerprints) and single-doc
  * rolling-hash fingerprints: near-complete overlap detection at a
  * fraction of the index size.
  *
  * Determinism: the per-window argmin ties on (hash, position) via a
  * single zero-padded fixed-width string key — lexicographic min of
  * fixed-width ASCII is identical in any engine (hex digits order the
  * same upper- or lowercase, so `hex()` matches the oracles'
  * `%016x` selection) — and k-gram hashes are 60-bit md5 prefixes
  * ([[graft.plans.Md5PrefixLongs]]), the repo hash rule. Round-12
  * measurement note: both a struct-typed `min(struct(hv, pos))`
  * window (WindowExec per-frame struct copies) and a
  * `hex`+`lpad`+`concat` key build were tried and REVERTED — neither
  * beat this form on q270/q284/q285 (the struct form was ~1.5×
  * slower; the key build is not where the time goes).
  *
  * Scale shape: tokenize/shingle/hash stage IN-ROW (one generator);
  * the window min runs per-document (partitionBy doc — never a
  * partition-less window); the fingerprint index moves (doc, pos,
  * 60-bit long) rows only — text never shuffles. Pair counting joins
  * doc-distinct fingerprints bucket-keyed on the hash with a
  * stop-gram document-frequency cap (`maxDf`), the banded-candidates
  * discipline — never all pairs.
  */
object Winnow {

  /** Selected fingerprints, one row per (doc, window-min occurrence):
    * `doc, pos (1-based k-gram start), fp (60-bit hash)`. Documents
    * shorter than w + k − 1 tokens yield no fingerprint (no full
    * window exists — the guarantee threshold is the contract).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k/w must be >= 1, got $k/$w")
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("doc")).orderBy(col("pos0"))
      .rowsBetween(Window.currentRow, w - 1)
    df
      .select(col(idCol).as("doc"),
        graft.plans.Md5PrefixLongs(
          TextFunctions.positionalShingles(col(textCol), k)).as("_hs"))
      .select(col("doc"), size(col("_hs")).as("nh"),
        posexplode(col("_hs")).as(Seq("pos0", "hv")))
      .filter(col("hv").isNotNull)
      .withColumn("_key",
        format_string("%016x:%09d", col("hv"), col("pos0") + 1))
      .withColumn("_sel", min(col("_key")).over(win))
      // only COMPLETE windows select (start <= nh - w)
      .filter(col("pos0") <= col("nh") - w)
      .select(col("doc"), col("_sel")).distinct()
      .select(col("doc"),
        conv(substring(col("_sel"), 1, 16), 16, 10).cast("long")
          .as("fp"),
        substring(col("_sel"), 18, 9).cast("long").as("pos"))
      .select(col("doc"), col("pos"), col("fp"))
  }

  /** Best-contained score per document: `cont_bp = 10⁴·shared div
    * nfp(doc)` maximized over partners, where both `shared` (via
    * [[sharedFingerprints]]) and `nfp` (per-doc fingerprint count)
    * live on the SAME df-capped (2..`maxDf`) index, so the rational
    * is self-consistent. Resemblance treats a doc quoted inside a
    * 10× larger one as dissimilar; containment scores it 10⁴ — the
    * asymmetric-dup case. Partner ties break (cont_bp desc, partner
    * asc). Output: `doc_id, nfp, partner, cont_bp`, one row per doc
    * holding ≥ 1 kept fingerprint.
    */
  def containment(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, maxDf: Int = 20): DataFrame = {
    val fps = fingerprints(df, idCol, textCol, k, w)
    // ONE checkpointed df-capped index feeds BOTH the pair counts and
    // the per-doc nfp denominator — building it twice would double the
    // fingerprint-index work and checkpoint memory, and the rational
    // is only self-consistent because both sides read the same cap
    val kept = keptIndex(fps, maxDf)
    val pairs = sharedFromKept(kept)
      .localCheckpoint() // both directions read it
    val nf = kept.groupBy(col("doc")).agg(count(lit(1)).as("nfp"))
    val dirs = pairs
      .select(col("a").as("doc"), col("b").as("partner"), col("shared"))
      .unionByName(pairs.select(col("b").as("doc"),
        col("a").as("partner"), col("shared")))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc"))
      .orderBy(col("cont_bp").desc, col("partner"))
    dirs.join(nf, Seq("doc"))
      .withColumn("cont_bp",
        expr("CAST((10000 * shared) DIV nfp AS BIGINT)"))
      .withColumn("_rk", row_number().over(byDoc))
      .filter(col("_rk") === 1)
      .select(col("doc").as("doc_id"), col("nfp"), col("partner"),
        col("cont_bp"))
  }

  /** Shared-fingerprint counts per document pair (a < b), fingerprints
    * appearing in more than `maxDf` documents dropped first (stop-gram
    * cap — boilerplate k-grams would otherwise square the bucket).
    * Output: `a, b, shared`.
    */
  def sharedFingerprints(fps: DataFrame, maxDf: Int): DataFrame =
    sharedFromKept(keptIndex(fps, maxDf))

  /** The df-capped (2..`maxDf`) distinct (doc, fp) index — the shared
    * substrate of [[sharedFingerprints]] and [[containment]]'s nfp
    * denominator, materialized once (the index + cap are the expensive
    * corpus-sized part; everything downstream is candidates-sized).
    */
  def keptIndex(fps: DataFrame, maxDf: Int): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val byFp = fps.select(col("doc"), col("fp")).distinct()
      .localCheckpoint() // the df cap + the surviving join both read it
    val keep = byFp.groupBy(col("fp"))
      .agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") <= maxDf && col("_nd") >= 2)
      .select(col("fp"))
    byFp.join(keep, Seq("fp")).localCheckpoint()
  }

  /** Pair counts over an already-built [[keptIndex]]. */
  def sharedFromKept(kept: DataFrame): DataFrame =
    kept.select(col("fp"), col("doc").as("a"))
      .join(kept.select(col("fp"), col("doc").as("b")), Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
}
