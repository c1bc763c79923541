package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Barrier

/** Categorical association metrics over BOUNDED contingency tables —
  * the dataset-audit questions "does the automatic labeler agree with
  * the annotations" (Cohen's κ) and "is corpus composition independent
  * of source" (χ² independence), computed exactly in integers so both
  * engines agree to the bit.
  *
  * Scale shape: the corpus is touched once by the (a, b) count
  * aggregate; everything else runs on the collected contingency cells
  * — bounded by the CATEGORY cross product (languages × sources, not
  * rows), the same bounded-collect discipline as [[RankEval]].
  *
  * Exactness:
  *  - κ's ratio ((po − pe)/(1 − pe)) can be negative, and integer
  *    division on negatives is where engines diverge (Spark `div`
  *    truncates toward zero, DuckDB `//` floors — the COVERAGE.md
  *    rule), so the operator never divides it: it emits the exact
  *    integer numerator N·agree − Σr·c and denominator N² − Σr·c
  *    (plus the non-negative po/pe basis points, where floor and
  *    truncate agree).
  *  - χ²'s per-cell term (O−E)²/E has no common integer denominator
  *    across cells, so each term is FLOORED at milli precision —
  *    `(1000·(O·N − r·c)²) div (N·r·c)`, all non-negative — and the
  *    floored integers sum exactly: both engines compute identical
  *    values, and the statistic is χ²·1000 with under one milli-unit
  *    error per cell (the q217–q219 quantize-then-sum discipline).
  *    Zero-observed cells contribute their full E mass — the grid is
  *    the category CROSS PRODUCT, not just the occupied cells.
  */
object Association {

  /** One row: `n, n_agree, po_bp, pe_bp, kappa_num, kappa_den`
    * (κ = kappa_num / kappa_den exactly).
    */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df
      .groupBy(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).as("o"))
      .as[(String, String, Long)].collect()
    if (cells.isEmpty)
      return Seq.empty[(Long, Long, Long, Long, Long, Long)]
        .toDF("n", "n_agree", "po_bp", "pe_bp", "kappa_num",
          "kappa_den")
    val n = BigInt(cells.map(_._3).sum)
    val agree = BigInt(cells.collect { case (a, b, o) if a == b => o }.sum)
    val rowT = cells.groupBy(_._1).map { case (k, l) =>
      k -> BigInt(l.map(_._3).sum)
    }
    val colT = cells.groupBy(_._2).map { case (k, l) =>
      k -> BigInt(l.map(_._3).sum)
    }
    val peNum = rowT.map { case (k, r) =>
      r * colT.getOrElse(k, BigInt(0))
    }.sum
    Seq((n.toLong, agree.toLong,
        (agree * 10000 / n).toLong,
        (peNum * 10000 / (n * n)).toLong,
        (n * agree - peNum).toLong,
        (n * n - peNum).toLong))
      .toDF("n", "n_agree", "po_bp", "pe_bp", "kappa_num", "kappa_den")
  }

  /** One row: `n, cells, dof, chi2_milli` — the independence
    * statistic over the full category grid, quantized per cell at
    * milli precision (see object doc).
    */
  def chiSquareMilli(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val occupied = df
      .groupBy(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).as("o"))
      .as[(String, String, Long)].collect()
    if (occupied.isEmpty)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("n", "cells", "dof", "chi2_milli")
    val n = BigInt(occupied.map(_._3).sum)
    val rowT = occupied.groupBy(_._1).view
      .mapValues(l => BigInt(l.map(_._3).sum)).toMap
    val colT = occupied.groupBy(_._2).view
      .mapValues(l => BigInt(l.map(_._3).sum)).toMap
    val oMap = occupied.map { case (a, b, o) => (a, b) -> BigInt(o) }.toMap
    val chi2 = (for {
      (a, r) <- rowT.toSeq
      (b, c) <- colT.toSeq
    } yield {
      val o = oMap.getOrElse((a, b), BigInt(0))
      val d = o * n - r * c
      1000 * d * d / (n * r * c)
    }).sum
    Seq((n.toLong, (rowT.size * colT.size).toLong,
        ((rowT.size - 1) * (colT.size - 1)).toLong,
        chi2.toLong))
      .toDF("n", "cells", "dof", "chi2_milli")
  }

  /** Fleiss' κ — chance-corrected agreement for n ≥ 2 raters (Cohen's
    * κ handles exactly two). Ratings arrive WIDE: one column per
    * rater, each a category value for the item in that row.
    *
    * With N items, n raters, and per-(item, category) counts n_ij:
    * P̄o = (Σ n_ij² − Nn) / (Nn(n−1)), P̄e = Σ_j c_j² / (Nn)² for
    * column totals c_j. Both are exact rationals; on the common
    * denominator D = (n−1)(Nn)²:
    * κ_num = Nn(Σ n_ij² − Nn) − (n−1)·Σ c_j²,
    * κ_den = (n−1)((Nn)² − Σ c_j²). The ratio can be NEGATIVE (worse-
    * than-chance agreement), and truncating vs flooring division
    * diverge there (the COVERAGE.md rule), so — like [[cohensKappa]] —
    * the exact integer pair ships instead of the quotient; the
    * non-negative po/pe basis points divide safely.
    *
    * Scale shape: unlike the two-rater form (bounded-collect), this is
    * FULLY distributed — Σ n_ij² is a per-(item, cat) count aggregate
    * squared and re-summed, Σ c_j² a category-bounded aggregate; no
    * driver state. The n_ij table is items×categories rows, touched by
    * keyed aggregates only. Numerators reach N²n² — past BIGINT near
    * N·n ≈ 3·10⁹ ratings — so internal sums run in decimal(38,0)
    * (oracle: HUGEINT) before the final BIGINT cast.
    */
  def fleissKappa(df: DataFrame, itemCol: String,
      raterCols: Seq[String]): DataFrame = {
    require(raterCols.size >= 2,
      s"Fleiss' kappa needs >= 2 raters, got ${raterCols.size}")
    val spark = df.sparkSession
    import spark.implicits._
    val nRaters = raterCols.size
    // NULL ratings violate the documented contract (missing ratings
    // route to krippendorffAlpha) — fail loudly at execution time,
    // distributed, instead of silently counting null as a category.
    val longForm = raterCols
      .map(rc => df.select(col(itemCol).as("item"),
        when(col(rc).isNull, raise_error(lit(
          s"fleissKappa: NULL rating in '$rc' — missing ratings " +
            "need krippendorffAlpha")).cast("string"))
          .otherwise(col(rc).cast("string")).as("cat")))
      .reduce(_ unionByName _)
    val nij = longForm.groupBy($"item", $"cat")
      .agg(count(lit(1)).as("nij"))
      .transform(Barrier(_)) // S, c_j, and N all read it
    // Two-level agg keeps per-item totals m_u in hand so duplicate
    // item rows (m_u != n, breaking the N·n invariant) fail loudly
    // below rather than silently corrupting the counts.
    val s = nij.groupBy($"item")
      .agg(sum(($"nij" * $"nij").cast("decimal(38,0)")).as("s_i"),
        sum($"nij").as("m"))
      .agg(
        coalesce(sum($"s_i"), lit(0).cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n_items"),
        coalesce(sum(when($"m" =!= nRaters, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("bad_items"))
    val t = nij.groupBy($"cat").agg(sum($"nij").as("cj"))
      .agg(coalesce(sum(($"cj" * $"cj").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("t"))
    val nn = s"(CAST(n_items AS DECIMAL(38,0)) * $nRaters)" // Nn
    s.crossJoin(t).selectExpr(
      // bad_items feeds the output column so pruning can't drop the
      // guard: any item with m_u != n raters raises here.
      s"""CASE WHEN bad_items > 0 THEN CAST(raise_error(CONCAT(
         |  'fleissKappa: ', CAST(bad_items AS STRING),
         |  ' item(s) with rating count != $nRaters raters ',
         |  '(duplicate item rows break the N*n invariant)'))
         |  AS BIGINT)
         |ELSE n_items END AS n_items""".stripMargin,
      s"CAST($nRaters AS BIGINT) AS n_raters",
      s"""CASE WHEN n_items = 0 THEN 0 ELSE
         |  CAST((10000 * (s - $nn))
         |    DIV ($nn * ${nRaters - 1}) AS BIGINT) END AS po_bp""".stripMargin,
      s"""CASE WHEN n_items = 0 THEN 0 ELSE
         |  CAST((10000 * t) DIV ($nn * $nn) AS BIGINT) END AS pe_bp""".stripMargin,
      s"CAST($nn * (s - $nn) - ${nRaters - 1} * t AS BIGINT) AS kappa_num",
      s"CAST(${nRaters - 1} * ($nn * $nn - t) AS BIGINT) AS kappa_den")
  }

  /** Krippendorff's α (nominal) — agreement with MISSING ratings,
    * where [[fleissKappa]] stops: raters may abstain (NULL), so the
    * per-item rating count m_u varies and items with m_u < 2 drop out.
    *
    * Coincidence-matrix form: with per-(item, category) counts n_uc
    * and m_u = Σ_c n_uc, the off-diagonal coincidence mass is
    * O = Σ_u Σ_c n_uc·(m_u − n_uc)/(m_u − 1); with category totals
    * n_c = Σ_u n_uc (over valid items) and n = Σ_c n_c,
    * α = 1 − (n−1)·O / (n² − Σ_c n_c²).
    *
    * Exactness: the per-item denominator (m_u − 1) ranges over
    * 1..R−1, so scaling every item's contribution by
    * L = lcm(1..R−1) makes O_L = L·O an exact integer —
    * `n_uc·(m_u − n_uc)·(L div (m_u−1))` per (item, cat) row. α can
    * be negative (worse than chance), so — the [[cohensKappa]] rule —
    * the exact pair ships: `alpha_num = L(n²−S) − (n−1)·O_L`,
    * `alpha_den = L(n²−S)`. The non-negative observed/expected
    * disagreement basis points (do_bp = 10⁴·O_L div (L·n),
    * de_bp = 10⁴(n²−S) div (n(n−1))) divide safely.
    *
    * Scale shape: FULLY distributed like [[fleissKappa]] — keyed
    * aggregates over the (item, category) count table (m_u attaches
    * via a window partitioned by item, no self-join); no driver
    * state. Numerators reach L·n² — internal sums run in
    * decimal(38,0) (oracle: HUGEINT) before the final BIGINT cast.
    */
  def krippendorffAlpha(df: DataFrame, itemCol: String,
      raterCols: Seq[String]): DataFrame = {
    require(raterCols.size >= 2,
      s"Krippendorff's alpha needs >= 2 raters, got ${raterCols.size}")
    val spark = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val bigL = (1 until raterCols.size)
      .map(BigInt(_)).foldLeft(BigInt(1)) { (a, b) => a * b / a.gcd(b) }
    require(bigL.isValidLong, s"lcm(1..${raterCols.size - 1}) overflows")
    val L = bigL.toLong
    val longForm = raterCols
      .map(rc => df.select(col(itemCol).as("item"),
        col(rc).cast("string").as("cat")))
      .reduce(_ unionByName _)
      .filter($"cat".isNotNull)
    val nuc = longForm.groupBy($"item", $"cat")
      .agg(count(lit(1)).as("nuc"))
      .withColumn("m", sum($"nuc").over(Window.partitionBy($"item")))
      .filter($"m" >= 2)
      .transform(Barrier(_)) // O_L, n_c, and n all read it
    val o = nuc.agg(
      coalesce(sum(($"nuc" * ($"m" - $"nuc") *
        expr(s"${L}L DIV (m - 1)")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("o_l"),
      coalesce(sum($"nuc"), lit(0L)).as("n"),
      count_distinct($"item").as("n_items"))
    val s = nuc.groupBy($"cat").agg(sum($"nuc").as("nc"))
      .agg(coalesce(sum(($"nc" * $"nc").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("s"))
    val nSq = "(CAST(n AS DECIMAL(38,0)) * n)"
    o.crossJoin(s).selectExpr(
      "n_items",
      "CAST(n AS BIGINT) AS n_ratings",
      s"""CASE WHEN n <= 1 THEN 0 ELSE
         |  CAST((10000 * o_l) DIV (${L}L * n) AS BIGINT)
         |  END AS do_bp""".stripMargin,
      s"""CASE WHEN n <= 1 THEN 0 ELSE
         |  CAST((10000 * ($nSq - s))
         |    DIV (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)
         |  END AS de_bp""".stripMargin,
      s"CAST(${L}L * ($nSq - s) - (n - 1) * o_l AS BIGINT) AS alpha_num",
      s"CAST(${L}L * ($nSq - s) AS BIGINT) AS alpha_den")
  }

  /** Majority-vote label aggregation — the crowd-labeling reduce that
    * precedes every agreement audit ([[fleissKappa]],
    * [[krippendorffAlpha]] measure; this one DECIDES): per item, the
    * category with the most votes wins, ties break to the
    * lexicographically smaller category, abstentions (NULL) don't
    * vote. Margin = top count − runner-up count (0 on a tie, full
    * count when unanimous-or-unopposed).
    *
    * Scale shape: fully distributed — raters unpivot IN-ROW (one
    * explode, ONE corpus scan — a per-rater union would re-run the
    * upstream featurization once per rater), then one (item, category)
    * count aggregate and one window partitioned by item for the argmax
    * + the runner-up lead. No driver state, category cardinality never
    * collected.
    *
    * @return one row per item with ≥ 1 vote: `item, consensus,
    *         n_votes (for the winner), n_ratings, margin`.
    */
  def majorityVote(df: DataFrame, itemCol: String,
      raterCols: Seq[String]): DataFrame =
    consensusOf(votesLong(df, itemCol, raterCols))
      .withColumnRenamed("item", itemCol)

  /** In-row unpivot to `(item, rater, cat)`, abstentions dropped. */
  private def votesLong(df: DataFrame, itemCol: String,
      raterCols: Seq[String]): DataFrame = {
    require(raterCols.nonEmpty, "majorityVote needs >= 1 rater")
    df.select(col(itemCol).as("item"),
        explode(array(raterCols.map(rc =>
          struct(lit(rc).as("rater"),
            col(rc).cast("string").as("cat"))): _*)).as("_rv"))
      .select(col("item"), col("_rv.rater").as("rater"),
        col("_rv.cat").as("cat"))
      .filter(col("cat").isNotNull)
  }

  /** The consensus reduce over the long form. The (item, cat) count
    * and both item-keyed windows share ONE exchange: the explicit
    * item repartition satisfies the aggregate's clustering (item is a
    * prefix of its keys) and the windows', so raw votes shuffle once
    * — per-item vote counts are panel-sized, nothing amplifies.
    */
  private def consensusOf(longForm: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = longForm
      .repartition(col("item"))
      .groupBy(col("item"), col("cat"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("cnt").desc, col("cat").asc)
    counts
      .withColumn("_rn", row_number().over(w))
      .withColumn("_runner",
        coalesce(lead(col("cnt"), 1).over(w), lit(0L)))
      .withColumn("_total",
        sum(col("cnt")).over(Window.partitionBy(col("item"))))
      .filter(col("_rn") === 1)
      .select(col("item"), col("cat").as("consensus"),
        col("cnt").as("n_votes"), col("_total").as("n_ratings"),
        (col("cnt") - col("_runner")).as("margin"))
  }

  /** Per-rater reliability against the [[majorityVote]] consensus:
    * `rater, n_rated, n_agree, agree_bp` — "which labeler should I
    * re-brief?". The long vote form materializes ONCE
    * (a barrier: (item, rater, cat) triples — the upstream
    * featurization is the expensive part and must not run twice) and
    * feeds both the consensus reduce and the item-keyed agree join.
    */
  def raterReliability(df: DataFrame, itemCol: String,
      raterCols: Seq[String]): DataFrame = {
    val longForm = Barrier(votesLong(df, itemCol, raterCols))
    val consensus = consensusOf(longForm)
      .select(col("item"), col("consensus"))
    longForm.join(consensus, Seq("item"))
      .groupBy(col("rater"))
      .agg(count(lit(1)).as("n_rated"),
        sum((col("cat") === col("consensus")).cast("long"))
          .as("n_agree"))
      .withColumn("agree_bp",
        expr("(10000 * n_agree) DIV n_rated"))
  }

  /** McNemar's paired test — "did switching quality filter A for
    * filter B change which documents pass, beyond symmetric noise?"
    * Both classifiers are judged against the same truth on the same
    * rows; only the DISCORDANT pairs carry signal: b = A right ∧ B
    * wrong, c = A wrong ∧ B right, χ² = (b−c)²/(b+c) with the
    * continuity-corrected variant (|b−c|−1)²/(b+c) (0 when b = c).
    * Both statistics are non-negative rationals → exact floored
    * milli-units (floor = truncate, the [[chiSquareMilli]] rule).
    * One corpus aggregate, zero driver state, nothing to prune.
    */
  def mcnemar(df: DataFrame, truthCol: String, aCol: String,
      bCol: String): DataFrame = {
    val aOk = (col(aCol) === col(truthCol)).cast("long")
    val bOk = (col(bCol) === col(truthCol)).cast("long")
    df.agg(
        count(lit(1)).as("n"),
        sum(aOk * bOk).as("both_right"),
        sum((lit(1) - aOk) * (lit(1) - bOk)).as("both_wrong"),
        sum(aOk * (lit(1) - bOk)).as("b"),
        sum((lit(1) - aOk) * bOk).as("c"))
      .selectExpr("n", "both_right", "both_wrong", "b", "c",
        """CASE WHEN b + c = 0 THEN 0 ELSE
          |  (1000 * (b - c) * (b - c)) DIV (b + c)
          |  END AS chi2_milli""".stripMargin,
        """CASE WHEN b + c = 0 OR abs(b - c) <= 1 THEN 0 ELSE
          |  (1000 * (abs(b - c) - 1) * (abs(b - c) - 1)) DIV (b + c)
          |  END AS chi2_cc_milli""".stripMargin)
  }
}
