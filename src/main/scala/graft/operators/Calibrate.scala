package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Isotonic calibration by pool-adjacent-violators (PAV) — the
  * classifier-calibration step between "score every document" and
  * "threshold the scores": fit the best MONOTONE map from an integer
  * score to an outcome rate, so a quality/language/toxicity score can
  * be read as a probability. (Ayer et al. 1955; the sklearn
  * `IsotonicRegression` everybody calls in a notebook, rebuilt
  * distributed and integer-exact.)
  *
  * Scale shape — binning is what makes PAV distributable: the corpus
  * is touched ONCE by a map-side equi-width binning (integer: bin =
  * (s − min)·B div (max − min + 1); min/max are one bounded
  * aggregate) plus a B-row count/positive aggregate; the inherently
  * sequential pooling then runs on the driver over ≤ B bins — the
  * [[Percentiles]] offsets-regime discipline (bounded driver state by
  * construction, corpus never sorts globally). B is the resolution /
  * smoothing knob exactly as in production calibrators.
  *
  * Exactness — pooling compares RATES pos/n, and a double division
  * would let two engines disagree at a tie: every comparison here is
  * the integer cross-product `pos_a·n_b > pos_b·n_a`, every output
  * rate an integer-`div` basis-point, so the pooled fit is
  * bit-reproducible. `CalibrateProps` pins the fold against the
  * independent minimax characterization of isotonic regression
  * (fit[i] = max_{k≤i} min_{j≥i} avg(k..j), exact BigInt rationals) —
  * two different algorithms, one answer.
  */
object Calibrate {

  /** One pooled segment of adjacent bins. */
  final case class Pool(n: Long, pos: Long)

  /** Sequential PAV over (n, pos) bins in score order: returns the
    * calibrated (pooled) (n, pos) for EACH input bin — monotone
    * non-decreasing in the exact rational sense, adjacent-average
    * preserving. Pools merge while the left rate exceeds the right
    * (strict violation; merging ties would change nothing).
    */
  def pav(bins: Seq[(Long, Long)]): Seq[Pool] = {
    val stack = collection.mutable.ArrayBuffer.empty[(Pool, Int)]
    bins.foreach { case (n, pos) =>
      var cur = (Pool(n, pos), 1)
      while (stack.nonEmpty && {
        val (p, _) = stack.last
        // violation: rate(p) > rate(cur) ⟺ p.pos·cur.n > cur.pos·p.n
        // (multiplyExact: overflow at ~3e9-row pools fails loudly
        // rather than silently mis-pooling)
        Math.multiplyExact(p.pos, cur._1.n) >
          Math.multiplyExact(cur._1.pos, p.n)
      }) {
        val (p, w) = stack.remove(stack.size - 1)
        cur = (Pool(p.n + cur._1.n, p.pos + cur._1.pos), w + cur._2)
      }
      stack += cur
    }
    stack.flatMap { case (p, w) => Seq.fill(w)(p) }.toSeq
  }

  /** Distributed isotonic fit of `labelCol` (0/1) against integer
    * `scoreCol` over `nBins` equi-width score bins. Output: one row
    * per NON-EMPTY bin — `bin, score_lo, n, pos, raw_bp, cal_bp` —
    * with `cal_bp` monotone non-decreasing in `bin`.
    */
  def isotonicBins(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    val spark = df.sparkSession
    import spark.implicits._
    val Array(mm) = df.agg(
      min(col(scoreCol).cast("long")).as("lo"),
      max(col(scoreCol).cast("long")).as("hi")).collect()
    if (mm.isNullAt(0))
      return Seq.empty[(Long, Long, Long, Long, Long, Long)]
        .toDF("bin", "score_lo", "n", "pos", "raw_bp", "cal_bp")
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val width = hi - lo + 1
    val binned = df.select(
        expr(s"(CAST($scoreCol AS BIGINT) - ${lo}L) * $nBins " +
          s"div ${width}L").as("bin"),
        col(labelCol).cast("long").as("_y"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"_y").as("pos"))
      .orderBy($"bin")
      .as[(Long, Long, Long)].collect() // ≤ nBins rows by construction
    val pooled = pav(binned.map { case (_, n, pos) => (n, pos) }.toSeq)
    // score_lo is the SMALLEST integer score mapping to bin b under
    // (s − lo)·B div width, i.e. the ceiling lo + ⌈b·width/B⌉ — a
    // floor here would label the bin with a score belonging to b−1
    // whenever b·width is not a multiple of B
    val rows = binned.zip(pooled).map { case ((b, n, pos), p) =>
      (b, lo + (b * width + nBins - 1) / nBins, n, pos,
        10000L * pos / n, 10000L * p.pos / p.n)
    }
    rows.toSeq
      .toDF("bin", "score_lo", "n", "pos", "raw_bp", "cal_bp")
  }

  /** Expected calibration error over FIXED basis-point confidence bins
    * — the single-number companion to [[isotonicBins]]: "when the
    * score says 73%, is it right 73% of the time, averaged over
    * bins?" `scoreCol` must already BE a probability in basis points
    * (0..10000), e.g. a rate-style quality score or an isotonic
    * output — unlike [[isotonicBins]], no data-dependent min/max scan
    * is needed, so this is ONE corpus aggregate, fully distributed,
    * zero driver state.
    *
    * Exactness: the per-bin gap |acc_b − conf_b| has denominator
    * n_b·10⁴, and Σ_b (n_b/N)·gap_b telescopes to
    * `ece_bp = (Σ_b |10⁴·pos_b − Σconf_b|) div N` — ONE integer
    * division at the end, every |·| term exact and non-negative
    * (floor = truncate). Output: one row per non-empty bin
    * (`bin, n, pos, conf_sum, gap_abs`) with the corpus `ece_bp`
    * repeated on each row (the window total costs nothing at ≤ nBins
    * rows).
    */
  def eceBins(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    val spark = df.sparkSession
    import spark.implicits._
    val perBin = df
      .select(
        expr(s"least((CAST($scoreCol AS BIGINT) * $nBins) DIV 10000, " +
          s"${nBins - 1})").as("bin"),
        col(scoreCol).cast("long").as("_s"),
        col(labelCol).cast("long").as("_y"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"_y").as("pos"),
        sum($"_s").as("conf_sum"))
      .withColumn("gap_abs", abs(lit(10000) * $"pos" - $"conf_sum"))
      .localCheckpoint() // ≤ nBins rows; the total reads it too — the
                         // corpus aggregate must not run twice
    val tot = perBin.agg(sum($"gap_abs").as("_g"), sum($"n").as("_nt"))
    perBin.crossJoin(broadcast(tot))
      .select($"bin", $"n", $"pos", $"conf_sum", $"gap_abs",
        expr("_g DIV _nt").as("ece_bp"))
  }
}
