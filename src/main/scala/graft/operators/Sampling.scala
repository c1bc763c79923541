package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling — the "give me N documents,
  * spread fairly across strata, reproducibly" primitive every
  * training-data pipeline needs for eval-set carving, human-review
  * draws, and per-source quota enforcement (reference analogue: the
  * curriculum's train/test splitting in `assignment_3_spark.py` and
  * the md5-bucket split of q58, which assign FRACTIONS; this operator
  * assigns an EXACT total budget).
  *
  * Two pieces, both integer-exact and rerun-stable:
  *
  *  1. '''Largest-remainder (Hamilton) apportionment''' of an integer
  *     budget across strata proportional to any integer mass (doc
  *     count, byte mass, token mass): floor quotas `S·n_h div N` first,
  *     then the `S − Σ floor` leftover seats go to the largest
  *     remainders `S·n_h mod N` (ties broken by stratum key). Pure
  *     integer arithmetic — no double division whose rounding could
  *     diverge between engines — and the allocation error per stratum
  *     is provably < 1 seat (SamplingProps pins Σ = S and
  *     |alloc − S·n/N| < 1).
  *  2. '''Deterministic take''': within each stratum keep the
  *     `n_alloc` rows with the smallest `md5(id)` hex digest (doc-id
  *     tie-break). The md5 order is uniform-but-frozen — statistically
  *     a uniform random sample, yet identical across reruns, engines,
  *     partitionings, and (critically for growing corpora) STABLE
  *     under stratum growth in the md5-prefix sense the q58 split
  *     relies on: a doc's digest never changes, so re-sampling after
  *     appends only swaps rows at the quota boundary.
  *
  * Scale shape: the strata table is aggregate-bounded (one row per
  * stratum — thousands, not billions), so the apportionment runs in a
  * SINGLE-PARTITION window over that bounded table and broadcasts back
  * into the corpus-wide take. The take itself is one keyed exchange
  * (partitionBy strata) + rank — and on a bucketed-by-strata layout
  * even that exchange vanishes. Nothing corpus-sized ever sorts
  * globally.
  */
object Sampling {

  /** Hamilton/largest-remainder apportionment of `budget` across the
    * rows of `counts` proportional to `massCol`.
    *
    * @param counts  one row per stratum (aggregate-bounded)
    * @param keyCols stratum key columns (also the remainder tie-break)
    * @param massCol non-negative integer mass column
    * @param budget  total seats to hand out (Σ n_alloc == budget,
    *                provided budget ≤ Σ mass when sampling without
    *                replacement is intended — callers cap per-stratum
    *                takes at the stratum size anyway)
    * @return `counts` + `n_alloc`
    */
  def allocateLargestRemainder(counts: DataFrame, keyCols: Seq[String],
      massCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    // upfront overflow guard mirroring systematicPps' W·S check:
    // budget·mass must fit a long, else ANSI mode surfaces a generic
    // ARITHMETIC_OVERFLOW deep in the plan instead of this message
    // (counts is the stratum table — aggregate-bounded, so the extra
    // max() scan is over thousands of rows, not the corpus)
    if (budget > 0) {
      val mm = counts.agg(max(col(massCol).cast("long"))).head()
      val maxMass = if (mm.isNullAt(0)) 0L else mm.getLong(0)
      require(maxMass <= Long.MaxValue / budget,
        s"budget·mass overflows long (budget=$budget, max mass=" +
          s"$maxMass) — pre-scale the masses")
    }
    // single-partition windows over the stratum table: bounded by
    // construction (one row per stratum), same discipline as
    // Packing's shard bound — document, don't shuffle corpus rows
    val all = Window.partitionBy()
    val byRem = Window.partitionBy()
      .orderBy(col("_rem").desc +: keyCols.map(col): _*)
    counts
      .withColumn("_tot", sum(col(massCol)).over(all))
      .withColumn("_num", lit(budget) * col(massCol))
      // integer `div`, never `/`: long division through a double
      // rounds above 2^53 and the engines could round differently
      .withColumn("_fl", expr("_num div _tot"))
      .withColumn("_rem", col("_num") % col("_tot"))
      .withColumn("_extra", lit(budget) - sum(col("_fl")).over(all))
      .withColumn("_rk", row_number().over(byRem))
      .withColumn("n_alloc",
        col("_fl") + when(col("_rk") <= col("_extra"), 1L).otherwise(0L))
      .drop("_tot", "_num", "_fl", "_rem", "_extra", "_rk")
  }

  /** Systematic PPS (probability-proportional-to-size) sampling:
    * exactly `sampleSize` ticks land on the cumulative-weight line at
    * multiples of W/S, and each row receives the ticks falling inside
    * its own weight interval — so a row's expected pick count is
    * EXACTLY S·w/W, its realized count is within 1 of that (the
    * classic systematic-sampling guarantee, SamplingProps-pinned),
    * and heavy rows (w > W/S) surface with multiplicity instead of
    * being capped. The Hamilton apportionment above fixes per-STRATUM
    * totals; this fixes per-ROW inclusion ∝ any integer mass (bytes,
    * tokens) — the draw a token-budgeted training mix actually wants.
    *
    * Determinism without randomness: rows line up in frozen
    * `(md5(id), id)` order (the q58/q239 discipline — uniform but
    * reproducible, so no correlation with any real attribute), the
    * tick origin is 0, and tick membership is pure integer
    * cross-multiplication: ticks k satisfy c·S ≤ k·W < (c+w)·S, so
    * `n_picks = ceilDiv((c+w)·S, W) − ceilDiv(c·S, W)` — no doubles,
    * no engine divergence. Requires W·S to fit a long (loud guard);
    * at larger magnitudes pre-scale the weights.
    *
    * Scale shape: one corpus-wide total (bounded collect of a single
    * long), one [[PrefixSum.exclusive]] scan (range exchange +
    * partition-local pass), then a map-side pick computation — no
    * single-partition window anywhere.
    *
    * @return input rows with `cum` (exclusive weight prefix) and
    *         `n_picks` (ticks landed, ≥ 1) — unsampled rows dropped
    */
  def systematicPps(df: DataFrame, idCol: String, weightCol: String,
      sampleSize: Long): DataFrame = {
    require(sampleSize >= 0, s"sampleSize must be >= 0, got $sampleSize")
    val total = df.agg(sum(col(weightCol).cast("long"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    if (total == 0L || sampleSize == 0L)
      return df.withColumn("cum", lit(0L))
        .withColumn("n_picks", lit(0L)).limit(0)
    require(total <= (Long.MaxValue - total) / sampleSize,
      s"W·S + W overflows long (W=$total, S=$sampleSize) — pre-scale " +
        "the weights")
    val ordered = df
      .withColumn("_h", md5(col(idCol).cast("string")))
      .withColumn("_w", col(weightCol).cast("long"))
    val cum = PrefixSum.exclusive(ordered, Seq("_h", idCol), "_w", "cum")
    cum
      // ceilDiv staged as named columns: integer `div`, never `/`
      // (same rationale as the apportionment above)
      .withColumn("_hi",
        (col("cum") + col("_w")) * sampleSize + lit(total - 1))
      .withColumn("_lo", col("cum") * sampleSize + lit(total - 1))
      .withColumn("n_picks",
        expr(s"(_hi div CAST($total AS BIGINT)) - " +
          s"(_lo div CAST($total AS BIGINT))"))
      .filter(col("n_picks") > 0)
      .drop("_h", "_w", "_hi", "_lo")
  }

  /** Keep, per stratum, the `n_alloc` rows with the smallest
    * `(md5(idCol), idCol)` — `alloc` is the (broadcastable) output of
    * [[allocateLargestRemainder]]. Strata smaller than their
    * allocation yield all their rows.
    */
  def takeStratified(df: DataFrame, keyCols: Seq[String], idCol: String,
      alloc: DataFrame): DataFrame = {
    val byStratum = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.join(broadcast(alloc.select(
        keyCols.map(col) :+ col("n_alloc"): _*)), keyCols)
      .withColumn("_rn", row_number().over(byStratum))
      .filter(col("_rn") <= col("n_alloc"))
      .drop("_rn", "n_alloc")
  }

  /** Deterministic mixture-schedule interleave (the Bresenham /
    * midpoint rule): given exact per-source ppm weights (e.g. the
    * DoReMi output of [[allocateLargestRemainder]]), the k-th item of
    * source s is emitted at global position
    * `pos = (2k−1)·10⁶ div (2·w_ppm)` — the midpoint of the k-th
    * weight-interval — so sorting by (pos, source, k) yields a
    * training order where every prefix of length T contains
    * T·w_s/10⁶ ± 1 items of each source (the schedule never drifts,
    * unlike block-concatenation or epoch-boundary reshuffles).
    * Items within a source are ordered by `idCol` (k = the
    * source-partitioned rank — never a partition-less window).
    * Zero-weight sources emit nothing and are dropped.
    *
    * Scale shape: one broadcast of the source-bounded weight table,
    * one per-source rank window, and a pure-arithmetic position — the
    * "global shuffle-merge" costs exactly the final sort the consumer
    * was going to pay anyway.
    *
    * @param weights (srcCol, `w_ppm`) with non-negative integer
    *                weights — exact ppm shares
    * @return df columns + `k` (1-based within-source rank) + `pos`
    */
  def interleaveSchedule(df: DataFrame, srcCol: String, idCol: String,
      weights: DataFrame): DataFrame = {
    val bySrc = Window.partitionBy(col(srcCol)).orderBy(col(idCol))
    df.join(broadcast(weights.select(col(srcCol), col("w_ppm"))),
        Seq(srcCol))
      .filter(col("w_ppm") > 0)
      .withColumn("k", row_number().over(bySrc).cast("long"))
      .withColumn("pos",
        expr("((2 * k - 1) * 1000000) div (2 * w_ppm)"))
  }

  /** Deterministic stratified k-fold assignment — the
    * cross-validation / shard-split primitive: within each stratum,
    * rows ranked by the frozen `(md5(id), id)` order get
    * `fold = (local_rank − 1) mod k`, so the k folds partition every
    * stratum with sizes differing by AT MOST ONE (exact balance, not
    * expected balance — a `hash(id) mod k` split only balances in
    * expectation) while the md5 order keeps membership
    * partitioning-independent and rerun-stable.
    *
    * Scale shape — why this survives a billion-row stratum where
    * `row_number() OVER (PARTITION BY strata)` would funnel each
    * stratum through ONE task: local ranks derive from
    * [[PrefixSum.withOrdinals]]' GLOBAL two-phase scan over
    * (strata, md5, id) — ranks within a stratum are contiguous in
    * that order, so `local_rank = global_rank − stratum_base`, with
    * the per-stratum bases an exclusive prefix over the
    * aggregate-bounded stratum counts (broadcast back). One range
    * exchange + one bounded-table broadcast; no per-stratum task.
    *
    * @param strataCol bounded-cardinality stratum key (the offsets
    *                  table must broadcast)
    * @return df columns + `fold` (0..k−1, long)
    */
  def stratifiedFolds(df: DataFrame, idCol: String, strataCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val d = df.withColumn("_h", md5(col(idCol).cast("string")))
    val counts = d.groupBy(col(strataCol))
      .agg(count(lit(1)).as("_c"))
    val offs = PrefixSum.exclusive(counts, Seq(strataCol), "_c", "_cum")
      .select(col(strataCol), (col("_cum") + 1L).as("_base"))
    val (ranked, _) = PrefixSum.withOrdinals(d,
      Seq(strataCol, "_h", idCol), "_rn")
    // null-safe (<=>) on the stratum key: groupBy emits a NULL-key
    // offsets row, and a plain equi-join would silently discard every
    // null-stratum input row instead of folding it — NULL is a
    // legitimate stratum here (it still gets exact k-way balance)
    ranked.join(broadcast(offs.withColumnRenamed(strataCol, "_strata")),
        col(strataCol) <=> col("_strata"))
      .withColumn("fold",
        expr(s"CAST((_rn - _base) % $k AS BIGINT)"))
      .drop("_h", "_rn", "_base", "_strata")
  }
}
