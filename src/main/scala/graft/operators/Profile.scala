package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Barrier
import graft.functions.TextFunctions
import graft.operators.LangModel.flog2

/** Corpus-composition profiling — the "is this dataset balanced?"
  * numbers a curation run reports before shipping: concentration of
  * mass across a key (source, domain, language) and vocabulary health
  * of the token stream. All outputs are exact integers (the
  * no-transcendentals discipline): concentration ships HHI and Gini
  * as exact rationals, entropy as the ⌊log₂⌋ floor-bit form
  * ([[LangModel]]'s trick — exact in any engine via binary length).
  *
  * Scale shapes:
  *  - [[concentration]]: one keyed count aggregate, then the sorted
  *    Gini rank scan runs through [[PrefixSum]]'s two-phase scan — a
  *    million-domain key never funnels into the partition-less-window
  *    single-partition trap. Group-bounded everywhere after the first
  *    aggregate; Σ rank·count reaches n_groups·n_rows — internal sums
  *    ride decimal(38,0) (oracle: HUGEINT).
  *  - [[vocabStats]]: one tokenize + keyed count; the top-k mass cut
  *    is a deterministic (count desc, token asc) limit — the
  *    [[LangModel]] prune discipline.
  *
  * Reference anchor: the curriculum's composition GROUP BYs
  * (`3-spark-fundamentals` homework aggregations over event hosts);
  * the exact concentration indices are the training-data extension.
  */
object Profile {

  /** One row: `n_rows, n_groups, hhi_e8, gini_num, gini_den, gini_bp,
    * h_bits_milli`.
    *
    *  - HHI = Σ share² as `hhi_e8 = (10⁸·Σc²) div N²` — 10⁸ = fully
    *    concentrated single group.
    *  - Gini over the group-size distribution (groups as units),
    *    ascending (count, key) rank order: G = (2Σ i·c_(i) − (n+1)N)
    *    / (nN) — ships as the exact non-negative pair + basis points.
    *  - Entropy lower bound in milli-bits:
    *    `h_bits_milli = 1000·(N·⌊log₂N⌋ − Σ c·⌊log₂c⌋) div N` —
    *    within 1 bit of Shannon H (every ⌊·⌋ is exact integer bit
    *    length − 1), non-negative since ⌊log₂c⌋ ≤ ⌊log₂N⌋.
    */
  def concentration(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("k"))
      .agg(count(lit(1)).as("c"))
    // exclusive prefix COUNT over ascending (c, k) = rank − 1;
    // two-phase scan, never a partition-less window
    val ranked = PrefixSum.exclusive(
      counts.withColumn("_one", lit(1L)), Seq("c", "k"), "_one",
      "_rk0")
    ranked.agg(
        sum(col("c")).as("_n"),
        count(lit(1)).as("_g"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("_c2"),
        sum(((col("_rk0") + 1) * col("c")).cast("decimal(38,0)"))
          .as("_ric"),
        sum((col("c") * flog2(col("c"))).cast("decimal(38,0)"))
          .as("_cf"))
      .selectExpr(
        "CAST(_n AS BIGINT) AS n_rows",
        "CAST(_g AS BIGINT) AS n_groups",
        """CASE WHEN _n = 0 THEN 0 ELSE
          |  CAST((100000000 * _c2)
          |    DIV (CAST(_n AS DECIMAL(38,0)) * _n) AS BIGINT)
          |  END AS hhi_e8""".stripMargin,
        "CAST(2 * _ric - (_g + 1) * CAST(_n AS DECIMAL(38,0)) " +
          "AS BIGINT) AS gini_num",
        "CAST(_g * CAST(_n AS DECIMAL(38,0)) AS BIGINT) AS gini_den",
        """CASE WHEN _g * _n = 0 THEN 0 ELSE
          |  CAST((10000 * (2 * _ric - (_g + 1)
          |      * CAST(_n AS DECIMAL(38,0))))
          |    DIV (_g * CAST(_n AS DECIMAL(38,0))) AS BIGINT)
          |  END AS gini_bp""".stripMargin,
        s"""CASE WHEN _n = 0 THEN 0 ELSE
          |  CAST((1000 * (CAST(_n AS DECIMAL(38,0))
          |      * (length(conv(CAST(_n AS STRING), 10, 2)) - 1) - _cf))
          |    DIV _n AS BIGINT)
          |  END AS h_bits_milli""".stripMargin)
  }

  /** PMI collocations over adjacent token pairs — "which bigrams are
    * glued together far beyond chance?" (boilerplate discovery,
    * tokenizer-merge candidates). PMI = log₂(c₁₂·N / (c₁·c₂)) is
    * irrational, so it ships in the floor-bit form
    * `pmi_bits = ⌊log₂c₁₂⌋ + ⌊log₂N⌋ − ⌊log₂c₁⌋ − ⌊log₂c₂⌋` — a SUM
    * of exact integer bit lengths (possibly negative, never divided),
    * within 2 bits of true PMI and immune to the c₁₂·N overflow a
    * single-⌊log₂⌋ form would hit at corpus scale — alongside the raw
    * counts so callers can re-derive any precision they like.
    * Marginals are transition-slot counts (c₁ = w as left element,
    * c₂ = w as right; N = total transitions), so the rationals are
    * self-consistent.
    *
    * Scale shape: ONE transition pass ([[LangModel.transitions]] —
    * in-row zip, one explode) feeds three keyed aggregates; the
    * bigram table joins its vocab-bounded marginals hash-keyed, the
    * scalar N broadcasts, and the deterministic cut is
    * (pmi_bits desc, c12 desc, w1, w2).
    */
  def pmiTopK(df: DataFrame, textCol: Column, minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 1 && topK >= 1,
      s"minCount/topK must be >= 1, got $minCount/$topK")
    val tr = LangModel.transitions(df, Seq.empty, textCol)
      .transform(Barrier(_)) // bigram + both marginal aggregates read it
    val bi = tr.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .transform(Barrier(_)) // N and the filtered join both read it
    val n = bi.agg(coalesce(sum(col("c12")), lit(0L)).as("n"))
    val left = tr.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val right = tr.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    bi.filter(col("c12") >= minCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        col("n"),
        (flog2(col("c12")) + flog2(col("n"))
          - flog2(col("c1")) - flog2(col("c2"))).as("pmi_bits"))
      .orderBy(col("pmi_bits").desc, col("c12").desc, col("w1"),
        col("w2"))
      .limit(topK)
  }

  /** Vocabulary drift between an OLD corpus snapshot and a NEW batch —
    * "did the crawl change under me?". One row:
    * `n_old, n_new, types_old, types_new, new_types, lost_types,
    * oov_bp, tvd_bp`, where
    *
    *  - `new_types` / `lost_types` = token types seen only in the new
    *    batch / only in the old snapshot;
    *  - `oov_bp` = basis points of the NEW batch's token mass carried
    *    by types the old snapshot never saw (the retrain-the-tokenizer
    *    alarm);
    *  - `tvd_bp` = total variation distance between the two unigram
    *    distributions, `Σ|c1·n2 − c2·n1| / (2·n1·n2)` in basis points
    *    — exact integer arithmetic (internally decimal(38,0); oracle:
    *    HUGEINT), floored once at the end, 0 ≤ tvd_bp ≤ 10000.
    *
    * Scale shape: one tokenize + keyed count per side, one hash-keyed
    * full outer join on the token (vocab-bounded), then two aggregates
    * over the joined vocab table — the totals pass feeds the TVD pass
    * by broadcast. Token text never rides a row-scale shuffle.
    */
  def vocabDrift(oldDf: DataFrame, newDf: DataFrame, textCol: Column)
      : DataFrame = {
    def wc(df: DataFrame, out: String) = df
      .select(explode(TextFunctions.lowerTokens(textCol)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as(out))
    val j = wc(oldDf, "c1")
      .join(wc(newDf, "c2"), Seq("w"), "full_outer")
      .select(coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
      .transform(Barrier(_)) // the totals and the TVD pass both read it
    val tot = j.agg(
      coalesce(sum(col("c1")), lit(0L)).as("_n1"),
      coalesce(sum(col("c2")), lit(0L)).as("_n2"),
      coalesce(sum(when(col("c1") > 0, 1L).otherwise(0L)), lit(0L))
        .as("_t1"),
      coalesce(sum(when(col("c2") > 0, 1L).otherwise(0L)), lit(0L))
        .as("_t2"),
      coalesce(sum(when(col("c1") === 0, 1L).otherwise(0L)), lit(0L))
        .as("_new"),
      coalesce(sum(when(col("c2") === 0, 1L).otherwise(0L)), lit(0L))
        .as("_lost"),
      coalesce(sum(when(col("c1") === 0, col("c2")).otherwise(0L)),
        lit(0L)).as("_oov"))
    val sd = j.crossJoin(broadcast(tot))
      .agg(coalesce(sum(abs(
          col("c1").cast("decimal(38,0)") * col("_n2")
            - col("c2").cast("decimal(38,0)") * col("_n1"))),
        lit(0L).cast("decimal(38,0)")).as("_sd"))
    tot.crossJoin(broadcast(sd))
      .selectExpr(
        "CAST(_n1 AS BIGINT) AS n_old",
        "CAST(_n2 AS BIGINT) AS n_new",
        "CAST(_t1 AS BIGINT) AS types_old",
        "CAST(_t2 AS BIGINT) AS types_new",
        "CAST(_new AS BIGINT) AS new_types",
        "CAST(_lost AS BIGINT) AS lost_types",
        """CASE WHEN _n2 = 0 THEN 0 ELSE
          |  (10000 * _oov) DIV _n2 END AS oov_bp""".stripMargin,
        """CASE WHEN _n1 = 0 OR _n2 = 0 THEN 0 ELSE
          |  CAST((10000 * _sd)
          |    DIV (2 * CAST(_n1 AS DECIMAL(38,0)) * _n2) AS BIGINT)
          |  END AS tvd_bp""".stripMargin)
  }

  /** One row: `n_tokens, n_types, hapax, ttr_bp, hapax_share_bp,
    * topk_mass_bp` — type-token ratio, hapax-legomena share of the
    * vocabulary, and the corpus mass captured by the top-`topK`
    * tokens (count desc, token asc — deterministic cut).
    */
  def vocabStats(df: DataFrame, textCol: Column, topK: Int = 100)
      : DataFrame = {
    val wc = df
      .select(explode(TextFunctions.lowerTokens(textCol)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .transform(Barrier(_)) // totals + the top-k cut both read it
    val top = wc.orderBy(col("c").desc, col("w")).limit(topK)
      .agg(coalesce(sum(col("c")), lit(0L)).as("_topc"))
    wc.agg(
        sum(col("c")).as("_n"),
        count(lit(1)).as("_t"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("_h"))
      .crossJoin(broadcast(top))
      .selectExpr(
        "CAST(_n AS BIGINT) AS n_tokens",
        "CAST(_t AS BIGINT) AS n_types",
        "CAST(_h AS BIGINT) AS hapax",
        """CASE WHEN _n = 0 THEN 0 ELSE
          |  (10000 * _t) DIV _n END AS ttr_bp""".stripMargin,
        """CASE WHEN _t = 0 THEN 0 ELSE
          |  (10000 * _h) DIV _t END AS hapax_share_bp""".stripMargin,
        """CASE WHEN _n = 0 THEN 0 ELSE
          |  (10000 * _topc) DIV _n END AS topk_mass_bp""".stripMargin)
  }

  /** Token counts ranked 1..V by (count desc, token asc) — the shared
    * spine of [[zipfFit]] and [[rankFreqOctaves]]. Ranks ride
    * [[PrefixSum]]'s two-phase scan, so a billion-type vocabulary
    * never funnels into the partition-less-window single-task trap
    * (the oracle states the same rank declaratively with
    * ROW_NUMBER — DuckDB may window freely, the ENGINE may not).
    */
  private def rankedTokenCounts(df: DataFrame, textCol: Column)
      : DataFrame = {
    val wc = df
      .select(explode(TextFunctions.lowerTokens(textCol)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    PrefixSum.exclusive(
        wc.withColumn("_negc", -col("c")).withColumn("_one", lit(1L)),
        Seq("_negc", "w"), "_one", "_rk0")
      .select(col("w"), col("c"), (col("_rk0") + 1L).as("rk"))
  }

  /** Zipf's-law fit over the token rank–frequency distribution: OLS
    * of ⌊log₂ count⌋ on ⌊log₂ rank⌋ in EXACT integer arithmetic (the
    * no-transcendentals discipline — every "log" is a binary bit
    * length, every division a guarded integer DIV both engines replay
    * identically). A healthy natural-language corpus fits slope ≈ −1
    * with high r²; template spam flattens the head, OCR noise fattens
    * the tail. One row: `n_types, n_tokens, sx, sy, sxy, sxx` (the
    * raw sums, so callers can re-derive any precision they like) plus
    *
    *  - `slope_milli` = 1000·(nΣxy − ΣxΣy)/(nΣx² − (Σx)²), floored
    *    symmetrically (negative slopes floor toward zero — the CASE
    *    keeps both engines on non-negative DIV, where `//` ≡ `DIV`);
    *  - `r2_bp` = num²/(den·Syy) in basis points, computed as
    *    ((10⁴·|num| div den)·|num|) div Syy — dividing EARLY keeps
    *    every intermediate within decimal(38,0) at 10⁹-type scale
    *    (num ~ 4·10³·V², so num² would overflow at V ≥ 10⁸).
    *
    * Scale shape: one tokenize + keyed count, the rank scan, one
    * 7-sum aggregate — the corpus is touched once, the vocab twice,
    * nothing collects but the scan's one-long-per-partition offsets.
    */
  def zipfFit(df: DataFrame, textCol: Column): DataFrame =
    rankedTokenCounts(df, textCol)
      .select(flog2(col("rk")).as("x"), flog2(col("c")).as("y"),
        col("c"))
      .agg(
        count(lit(1)).as("_n"),
        coalesce(sum(col("c")), lit(0L)).as("_nt"),
        coalesce(sum(col("x")), lit(0L)).as("_sx"),
        coalesce(sum(col("y")), lit(0L)).as("_sy"),
        coalesce(sum((col("x") * col("y")).cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)")).as("_sxy"),
        coalesce(sum((col("x") * col("x")).cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)")).as("_sxx"),
        coalesce(sum((col("y") * col("y")).cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)")).as("_syy"))
      .withColumn("_num",
        expr("CAST(_n AS DECIMAL(38,0)) * _sxy " +
          "- CAST(_sx AS DECIMAL(38,0)) * _sy"))
      .withColumn("_den",
        expr("CAST(_n AS DECIMAL(38,0)) * _sxx " +
          "- CAST(_sx AS DECIMAL(38,0)) * _sx"))
      .withColumn("_svy",
        expr("CAST(_n AS DECIMAL(38,0)) * _syy " +
          "- CAST(_sy AS DECIMAL(38,0)) * _sy"))
      .selectExpr(
        "CAST(_n AS BIGINT) AS n_types",
        "CAST(_nt AS BIGINT) AS n_tokens",
        "CAST(_sx AS BIGINT) AS sx",
        "CAST(_sy AS BIGINT) AS sy",
        "CAST(_sxy AS BIGINT) AS sxy",
        "CAST(_sxx AS BIGINT) AS sxx",
        """CASE WHEN _den = 0 THEN CAST(0 AS BIGINT)
          |  WHEN _num >= 0 THEN CAST((1000 * _num) DIV _den AS BIGINT)
          |  ELSE -CAST((1000 * (0 - _num)) DIV _den AS BIGINT)
          |  END AS slope_milli""".stripMargin,
        """CASE WHEN _den = 0 OR _svy = 0 THEN CAST(0 AS BIGINT)
          |  ELSE CAST((((10000 * abs(_num)) DIV _den) * abs(_num))
          |    DIV _svy AS BIGINT) END AS r2_bp""".stripMargin)

  /** Rank–frequency table by OCTAVE of rank (octave = ⌊log₂ rank⌋ —
    * ranks 1 / 2–3 / 4–7 / …): per octave the type count, token mass,
    * min/max frequency, and mass share in basis points. Under Zipf,
    * mass-per-octave is roughly flat — a glance-readable shape test
    * that complements [[zipfFit]]'s single slope. ≤ 64 octaves by
    * construction, so everything after the rank scan is bounded.
    *
    * Scale shape: the vocab-sized rank scan feeds ONE ≤64-row keyed
    * rollup (checkpointed — the total-mass pass and the share pass
    * both read it); the corpus total is Σ mass over those rows, so
    * the token stream is touched exactly once.
    */
  def rankFreqOctaves(df: DataFrame, textCol: Column): DataFrame = {
    val oct = rankedTokenCounts(df, textCol)
      .groupBy(flog2(col("rk")).as("octave"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("mass"),
        min(col("c")).as("min_c"), max(col("c")).as("max_c"))
      .transform(Barrier(_)) // ≤64 rows; totals + share pass both read it
    val tot = oct.agg(coalesce(sum(col("mass")), lit(0L)).as("_tot"))
    oct.crossJoin(broadcast(tot))
      .selectExpr("octave", "n_types", "mass", "min_c", "max_c",
        """CASE WHEN _tot = 0 THEN CAST(0 AS BIGINT)
          |  ELSE CAST((10000 * mass) DIV _tot AS BIGINT)
          |  END AS mass_bp""".stripMargin)
      .orderBy(col("octave"))
  }

  /** Per-source divergence from the REST of the corpus — "which crawl
    * is distributionally alien?": for each source, its unique-type
    * count and mass share, and the exact total-variation distance
    * between its unigram distribution and the rest-of-corpus
    * distribution, in basis points. Complements [[vocabDrift]] (old
    * vs new snapshot) and q188 (share drift) with a one-vs-rest
    * static decomposition.
    *
    * TVD(s, r) = [Σ_{w∈s} |c_s·n_r − c_r·n_s| + n_s·(n_r −
    * Σ_{w∈s} c_r)] / (2·n_s·n_r) — the second term folds every token
    * type ABSENT from s algebraically, so the (source × vocab) frame
    * is only as large as the observed (source, token) pairs; nothing
    * ever materializes the missing-word cross product. Internal
    * products reach n_s·n_r ≈ N² — decimal(38,0) (oracle: HUGEINT),
    * safe to N ≈ 10¹⁸ tokens.
    *
    * Scale shape: ONE tokenize builds the (source, token) counts
    * (checkpointed — the token marginal, the source totals and the
    * join all read it); the token marginal joins vocab-keyed, the
    * bounded source-totals table and the scalar N broadcast; one
    * keyed aggregate per source finishes. The corpus is touched once.
    */
  def sourceDivergence(df: DataFrame, keyCol: String, textCol: Column)
      : DataFrame = {
    val sw = df
      .select(col(keyCol).cast("string").as("src"),
        explode(TextFunctions.lowerTokens(textCol)).as("w"))
      .groupBy(col("src"), col("w")).agg(count(lit(1)).as("cs"))
      .transform(Barrier(_)) // marginal + totals + join all read it
    val wt = sw.groupBy(col("w"))
      .agg(sum(col("cs")).as("ct"), count(lit(1)).as("nsrc"))
    val st = sw.groupBy(col("src"))
      .agg(sum(col("cs")).as("ns"), count(lit(1)).as("ntypes"))
    val tt = sw.agg(coalesce(sum(col("cs")), lit(0L)).as("nn"))
    sw.join(wt, Seq("w"))
      .join(broadcast(st), Seq("src"))
      .crossJoin(broadcast(tt))
      .groupBy(col("src"))
      .agg(min(col("ns")).as("_ns"), min(col("ntypes")).as("_ntypes"),
        min(col("nn")).as("_nn"),
        sum(when(col("nsrc") === 1, 1L).otherwise(0L)).as("_ut"),
        sum(when(col("nsrc") === 1, col("cs")).otherwise(0L)).as("_um"),
        sum((col("ct") - col("cs")).cast("decimal(38,0)")).as("_scr"),
        sum(abs(col("cs").cast("decimal(38,0)")
            * (col("nn") - col("ns"))
          - (col("ct") - col("cs")).cast("decimal(38,0)")
            * col("ns"))).as("_sabs"))
      .selectExpr("src AS source",
        "CAST(_ns AS BIGINT) AS n_tokens",
        "CAST(_ntypes AS BIGINT) AS n_types",
        "CAST(_ut AS BIGINT) AS uniq_types",
        "CAST(_um AS BIGINT) AS uniq_mass",
        """CASE WHEN _ns = 0 THEN CAST(0 AS BIGINT)
          |  ELSE (10000 * _um) DIV _ns END AS uniq_mass_bp""".stripMargin,
        """CASE WHEN _ns = 0 OR _nn - _ns = 0 THEN CAST(0 AS BIGINT)
          |  ELSE CAST((10000 * (_sabs + CAST(_ns AS DECIMAL(38,0))
          |      * ((_nn - _ns) - _scr)))
          |    DIV (2 * CAST(_ns AS DECIMAL(38,0)) * (_nn - _ns))
          |    AS BIGINT) END AS tvd_bp""".stripMargin)
      .orderBy(col("source"))
  }

  /** Vocabulary growth curve (the Heaps'-law measurement): cumulative
    * distinct types vs cumulative tokens at `buckets` equal-rank
    * document cutpoints, documents ordered by id. Sub-linear growth
    * is the healthy shape; a curve that keeps climbing linearly says
    * the corpus keeps injecting novel junk (OCR noise, random ids),
    * one that flatlines early says template spam.
    *
    * Scale shape — the reason this is an operator and not ten
    * filtered rescans: "types seen by prefix p" needs no per-prefix
    * pass, because a type is counted at its FIRST OCCURRENCE document
    * (`min(doc)` per token — one keyed aggregate over the token
    * stream); each first occurrence then maps to its document's
    * bucket with one hash join. Document ranks come from
    * [[PrefixSum]]'s two-phase scan (never a partition-less window
    * over the corpus), and the final cumulations run over exactly
    * `buckets` rows — bounded by construction.
    *
    * Bucket of rank r (1-based) in n docs = `(r−1)·buckets DIV n + 1`
    * — the exact integer formula, NOT NTILE (engines disagree on
    * where NTILE parks the remainder).
    *
    * @return one row per non-empty bucket: `bucket, cut_doc, n_docs,
    *         cum_tokens, cum_types`, ordered by bucket
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val docs = df
      .select(col(idCol).cast("long").as("doc"),
        TextFunctions.lowerTokens(textCol).as("t"))
    val perDoc = docs
      .select(col("doc"), size(col("t")).cast("long").as("nt"))
    val n = perDoc.count()
    require(n > 0, "vocabGrowth needs a non-empty corpus")
    val ranked = PrefixSum.exclusive(
        perDoc.withColumn("_one", lit(1L)), Seq("doc"), "_one", "_rk0")
      .withColumn("bucket",
        expr(s"CAST(_rk0 * $buckets DIV ${n}L AS BIGINT) + 1"))
      .transform(Barrier(_)) // per-bucket rollup + first-occurrence join
    val firstOcc = docs
      .select(col("doc"), explode(col("t")).as("w"))
      .groupBy(col("w")).agg(min(col("doc")).as("doc"))
      .groupBy(col("doc")).agg(count(lit(1)).as("_newt"))
    val perBucket = ranked
      .join(firstOcc, Seq("doc"), "left_outer")
      .groupBy(col("bucket"))
      .agg(max(col("doc")).as("cut_doc"),
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("_toks"),
        sum(coalesce(col("_newt"), lit(0L))).as("_types"))
    // cumulate over <= `buckets` rows — two-phase scan again, so no
    // partition-less window appears anywhere in the operator
    val cumT = PrefixSum.exclusive(perBucket, Seq("bucket"), "_toks",
      "_cumt0")
    PrefixSum.exclusive(cumT, Seq("bucket"), "_types", "_cumy0")
      .select(col("bucket"), col("cut_doc"), col("n_docs"),
        (col("_cumt0") + col("_toks")).as("cum_tokens"),
        (col("_cumy0") + col("_types")).as("cum_types"))
  }
}
