package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.operators.Sampling

/** Round-6 final additions: the curation primitives between "score the
  * corpus" and "ship the dataset" — exact-budget stratified sampling,
  * a word-level backoff LM whose scoring is integer end to end, and
  * the linear (retractable) frequency sketch.
  */
object Extended15 {

  /** Exact-budget stratified sample END-TO-END: 97 documents
    * apportioned across sources by largest-remainder
    * ([[Sampling.allocateLargestRemainder]] — floor quotas, leftover
    * seats to the largest integer remainders) and drawn per-stratum
    * in frozen md5 order ([[Sampling.takeStratified]]). This is the
    * operator form of machinery two earlier queries carry inline:
    * q194 apportions (temperature quotas, no draw), q195 draws
    * (per-language rates, no shared budget); here one reusable pair
    * closes the loop — a FIXED corpus-wide budget lands as actual
    * rows. Everything is integer arithmetic and md5 ordering, so the
    * SAME 97 documents come back on any engine, partitioning, or
    * rerun — `id_sum` pins the exact selection, not just its size.
    * Scale shape: the apportionment windows run over the stratum
    * table (one row per source), the take is one keyed exchange over
    * the corpus with the 20-row allocation broadcast in.
    */
  val q239_stratified_sample: Q = Q(
    "q239_stratified_sample",
    """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents
      |  GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM c),
      |qt AS (SELECT source, n_docs, (97 * n_docs) // tot AS fl,
      |    (97 * n_docs) % tot AS rem FROM c CROSS JOIN t),
      |r AS (SELECT source, n_docs, fl,
      |    row_number() OVER (ORDER BY rem DESC, source) AS rk FROM qt),
      |ex AS (SELECT CAST(97 - SUM(fl) AS BIGINT) AS e FROM qt),
      |alloc AS (SELECT source, n_docs,
      |    fl + CASE WHEN rk <= (SELECT e FROM ex) THEN 1 ELSE 0 END
      |      AS n_alloc FROM r),
      |sel AS (SELECT doc_id, source, row_number() OVER (
      |    PARTITION BY source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents),
      |tk AS (SELECT s.source, s.doc_id FROM sel s
      |  JOIN alloc a USING (source) WHERE s.rn <= a.n_alloc)
      |SELECT a.source, a.n_docs, a.n_alloc,
      |  COUNT(tk.doc_id) AS n_taken,
      |  COALESCE(CAST(SUM(tk.doc_id) AS BIGINT), 0) AS id_sum
      |FROM alloc a LEFT JOIN tk ON tk.source = a.source
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"source")
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    // strata-bounded (one row per source) with TWO consumers below
    // (the take's broadcast and the final rollup join) — checkpoint so
    // the corpus-count aggregate runs once (the q221 reuse lesson)
    val alloc = Sampling.allocateLargestRemainder(
      counts, Seq("source"), "n_docs", 97L).transform(Barrier(_))
    val taken = Sampling.takeStratified(docs, Seq("source"), "doc_id",
        alloc)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_taken"), sum($"doc_id").as("id_sum"))
    alloc.join(broadcast(taken), Seq("source"), "left")
      .select($"source", $"n_docs", $"n_alloc",
        coalesce($"n_taken", lit(0L)).as("n_taken"),
        coalesce($"id_sum", lit(0L)).as("id_sum"))
      .orderBy($"source")
  }

  /** CCNet-style LM quality gate with ZERO floating point: a
    * Stupid-Backoff word-bigram model trained on the trusted slice
    * (sources src0–src4), pruned to its top-512 bigrams / top-24
    * unigrams (the cut binds at every SF — ~905 bigram types, 31
    * words — so backoff and OOV paths really execute), scores every
    * document in integer surprise bits ([[LangModel]]: each term is a
    * difference of exact ⌊log₂ count⌋ values, so document sums are
    * BIGINT and order-free — q218's char-level scorer keeps milli-nat
    * precision via a floored `ln`; this is the coarser-unit /
    * zero-transcendental end of that trade). Per source: scored docs,
    * total bits and transitions, bits-per-100-transitions, and how
    * many docs breach the 5.8 bits/transition quality bar (the corpus
    * median is ~5.5–6.1 across SFs, so the gate splits every SF).
    * Scale shape: the pruned model BROADCASTS into the one corpus
    * scoring pass; only per-document and per-source combines shuffle.
    */
  val q240_backoff_lm_bits: Q = Q(
    "q240_backoff_lm_bits",
    """WITH tok AS (SELECT doc_id, source,
      |    string_split_regex(lower(text), '\s+') AS t FROM documents),
      |tr AS (SELECT doc_id, source, unnest(t[:-2]) AS w1,
      |    unnest(t[2:]) AS w2 FROM tok WHERE len(t) >= 2),
      |ttok AS (SELECT unnest(string_split_regex(lower(text), '\s+'))
      |    AS w FROM documents
      |  WHERE source IN ('src0','src1','src2','src3','src4')),
      |ttr AS (SELECT unnest(t[:-2]) AS w1, unnest(t[2:]) AS w2
      |  FROM (SELECT string_split_regex(lower(text), '\s+') AS t
      |        FROM documents
      |        WHERE source IN ('src0','src1','src2','src3','src4')) x
      |  WHERE len(t) >= 2),
      |uni0 AS (SELECT w, COUNT(*) AS c FROM ttok GROUP BY 1),
      |uni AS (SELECT w, c FROM uni0 ORDER BY c DESC, w LIMIT 24),
      |bi AS (SELECT b.w1, b.w2, b.c12, u.c AS c1
      |  FROM (SELECT w1, w2, COUNT(*) AS c12 FROM ttr GROUP BY 1, 2
      |        ORDER BY COUNT(*) DESC, w1, w2 LIMIT 512) b
      |  JOIN uni0 u ON u.w = b.w1),
      |k AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v FROM uni),
      |sc AS (SELECT tr.doc_id, tr.source,
      |    CASE WHEN b.c12 IS NOT NULL
      |      THEN (length(bin(b.c1)) - 1) - (length(bin(b.c12)) - 1)
      |      ELSE 1 + (length(bin((SELECT n FROM k) + (SELECT v FROM k)))
      |                - 1)
      |             - (length(bin(COALESCE(u.c, 0) + 1)) - 1) END AS bits
      |  FROM tr LEFT JOIN bi b ON tr.w1 = b.w1 AND tr.w2 = b.w2
      |  LEFT JOIN uni u ON tr.w2 = u.w),
      |doc AS (SELECT doc_id, source, CAST(SUM(bits) AS BIGINT) AS d_bits,
      |    COUNT(*) AS d_n FROM sc GROUP BY 1, 2)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(d_bits) AS BIGINT) AS sum_bits,
      |  CAST(SUM(d_n) AS BIGINT) AS sum_trans,
      |  (100 * CAST(SUM(d_bits) AS BIGINT))
      |    // CAST(SUM(d_n) AS BIGINT) AS bp100,
      |  CAST(SUM(CASE WHEN d_bits * 10 > d_n * 58 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_high
      |FROM doc GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    def docs = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"source", $"text")
    // training is eager (barriers + a constants collect) on
    // the trusted slice; the pruned model broadcasts into the scoring
    val lm = graft.operators.LangModel.trainBigram(
      docs.filter($"source".isin("src0", "src1", "src2", "src3", "src4")),
      $"text", biK = 512, uniK = 24)
    graft.operators.LangModel
      .scoreBits(docs, Seq("doc_id", "source"), $"text", lm)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"d_bits").as("sum_bits"),
        sum($"d_n").as("sum_trans"),
        sum(when($"d_bits" * 10 > $"d_n" * 58, 1L).otherwise(0L))
          .as("n_high"))
      .withColumn("bp100", expr("(100 * sum_bits) div sum_trans"))
      .select($"source", $"n_docs", $"sum_bits", $"sum_trans", $"bp100",
        $"n_high")
      .orderBy($"source")
  }

  /** Count-min turnstile maintenance ([[graft.functions.CountMin]]):
    * per-period token sketches (the maintained state) merge by vector
    * add into the full-corpus sketch, then period 1 is DELETED by
    * subtraction — linearity makes the retracted grid EXACTLY the
    * sketch of the surviving periods, no history rescan (the
    * frequency-summary cell of the IVM matrix: q226 retracts exact
    * aggregates, q231 retracts dedup groups, this retracts sketches).
    * The top-10 surviving tokens are then point-queried against the
    * retracted sketch; because the row hashes are md5-derived, the
    * DuckDB oracle replays the whole grid relationally and matches
    * `est` EXACTLY — `est >= true` always (min-of-counters), the gap
    * is the deterministic collision mass. Driver work is bounded by
    * construction: 4 sketches × 16 KB and 10 candidate rows.
    */
  val q241_countmin_turnstile: Q = Q(
    "q241_countmin_turnstile",
    """WITH tok AS (SELECT doc_id % 4 AS period,
      |    unnest(string_split_regex(lower(text), '\s+')) AS w
      |  FROM documents),
      |kept AS (SELECT w FROM tok WHERE period <> 1),
      |cand AS (SELECT w, COUNT(*) AS true_cnt FROM kept GROUP BY 1
      |  ORDER BY true_cnt DESC, w LIMIT 10),
      |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
      |g AS (SELECT j, ('0x' || substr(md5(w), 1 + 8 * j, 8))::BIGINT
      |      % 512 AS b, COUNT(*) AS c
      |  FROM kept CROSS JOIN js GROUP BY 1, 2)
      |SELECT cand.w AS tok, cand.true_cnt, MIN(g.c) AS est,
      |  MIN(g.c) - cand.true_cnt AS over_mass
      |FROM cand CROSS JOIN js
      |JOIN g ON g.j = js.j
      |  AND g.b = ('0x' || substr(md5(cand.w), 1 + 8 * js.j, 8))::BIGINT
      |      % 512
      |GROUP BY 1, 2 ORDER BY true_cnt DESC, tok""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.CountMin
    val toks = Tables.loadParallel(spark, dir, "documents")
      .select(($"doc_id" % 4).as("period"),
        explode(graft.functions.TextFunctions.lowerTokens($"text"))
          .as("w"))
      .transform(Barrier(_))
    // maintenance layer: one 4×512 grid per period, map-side combined
    val perPeriod = toks.groupBy($"period")
      .agg(CountMin.sketch(512)($"w").as("sk"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val full = perPeriod.values.reduce { (a, b) =>
      new graft.functions.CountMinSketch(512).merge(a.clone(), b)
    }
    val retracted = CountMin.retract(full, perPeriod(1L))
    // top-10 surviving tokens, exact counts (bounded TakeOrdered)
    val cands = toks.filter($"period" =!= 1)
      .groupBy($"w").agg(count(lit(1)).as("true_cnt"))
      .orderBy($"true_cnt".desc, $"w").limit(10)
      .as[(String, Long)].collect()
    val rows = cands.map { case (w, cnt) =>
      val est = CountMin.estimate(retracted, w, 512)
      (w, cnt, est, est - cnt)
    }
    spark.createDataset(rows.toSeq)
      .toDF("tok", "true_cnt", "est", "over_mass")
      .orderBy($"true_cnt".desc, $"tok")
  }

  /** Systematic PPS draw over the whole corpus: 997 ticks on the
    * cumulative n_chars line in frozen md5 order —
    * [[Sampling.systematicPps]] — so every document's pick count is
    * within 1 of its exact byte-mass share of the budget and heavy
    * docs surface with multiplicity (the token-budgeted complement of
    * q239's equal-probability-within-stratum draw). The engine side
    * computes the prefix sums with the DISTRIBUTED two-phase scan
    * ([[graft.operators.PrefixSum]] — range exchange + partition-local
    * pass + driver offsets, one long per partition), never the
    * single-partition global window the oracle is allowed to use at
    * its scale. Output is all integer: per source, selected docs,
    * landed ticks (Σ over sources = 997 exactly), and the
    * multiplicity-weighted id checksum pinning the exact draw.
    */
  val q242_pps_systematic: Q = Q(
    "q242_pps_systematic",
    """WITH w AS (SELECT doc_id, source, n_chars,
      |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |t AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS tot FROM w),
      |c AS (SELECT doc_id, source, n_chars,
      |    COALESCE(CAST(SUM(n_chars) OVER (ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS BIGINT), 0) AS cum FROM w),
      |p AS (SELECT doc_id, source, n_chars,
      |    ((cum + n_chars) * 997 + tot - 1) // tot
      |      - (cum * 997 + tot - 1) // tot AS n_picks
      |  FROM c CROSS JOIN t)
      |SELECT source, COUNT(*) AS n_sel,
      |  CAST(SUM(n_picks) AS BIGINT) AS picks,
      |  CAST(SUM(doc_id * n_picks) AS BIGINT) AS id_wsum
      |FROM p WHERE n_picks > 0 GROUP BY 1 ORDER BY 1""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"source", $"n_chars")
    Sampling.systematicPps(docs, "doc_id", "n_chars", 997L)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_sel"),
        sum($"n_picks").as("picks"),
        sum($"doc_id" * $"n_picks").as("id_wsum"))
      .orderBy($"source")
  }

  /** Sketch-based JOIN-SIZE estimation: the count-min inner product
    * ([[graft.functions.CountMin.innerProduct]]) predicts the
    * token-equi-join cardinality between two sources from their 16 KB
    * grids alone — row j's bucket dot-product is the true
    * Σ_w c_A(w)·c_B(w) plus non-negative collision cross terms, so
    * the min over rows NEVER undercounts and lands within the grid's
    * collision mass. The planner/monitoring use: maintained per-source
    * sketches answer "how big would this join be" without re-reading
    * either side. Both engines compute the identical md5-derived grids
    * (q241's convention), so `est_pairs` matches EXACTLY, and
    * `true_pairs` is the exact count-table join both sides also
    * compute — at scale that truth pass is the expensive thing the
    * sketch replaces; here it doubles as the oracle's check that
    * `over_mass >= 0`.
    */
  val q243_join_size_sketch: Q = Q(
    "q243_join_size_sketch",
    """WITH ta AS (SELECT unnest(string_split_regex(lower(text), '\s+'))
      |    AS w FROM documents WHERE source = 'src0'),
      |tb AS (SELECT unnest(string_split_regex(lower(text), '\s+'))
      |    AS w FROM documents WHERE source = 'src1'),
      |ca AS (SELECT w, COUNT(*) AS c FROM ta GROUP BY 1),
      |cb AS (SELECT w, COUNT(*) AS c FROM tb GROUP BY 1),
      |tru AS (SELECT CAST(COALESCE(SUM(ca.c * cb.c), 0) AS BIGINT)
      |    AS t FROM ca JOIN cb USING (w)),
      |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
      |ga AS (SELECT j, ('0x' || substr(md5(w), 1 + 8 * j, 8))::BIGINT
      |      % 512 AS b, CAST(SUM(c) AS BIGINT) AS c
      |  FROM ca CROSS JOIN js GROUP BY 1, 2),
      |gb AS (SELECT j, ('0x' || substr(md5(w), 1 + 8 * j, 8))::BIGINT
      |      % 512 AS b, CAST(SUM(c) AS BIGINT) AS c
      |  FROM cb CROSS JOIN js GROUP BY 1, 2),
      |ip AS (SELECT ga.j, CAST(SUM(ga.c * gb.c) AS BIGINT) AS dot
      |  FROM ga JOIN gb ON ga.j = gb.j AND ga.b = gb.b GROUP BY 1)
      |SELECT (SELECT t FROM tru) AS true_pairs,
      |  (SELECT MIN(dot) FROM ip) AS est_pairs,
      |  (SELECT MIN(dot) FROM ip) - (SELECT t FROM tru) AS over_mass
      |""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.CountMin
    val toks = Tables.loadParallel(spark, dir, "documents")
      .filter($"source".isin("src0", "src1"))
      .select($"source",
        explode(graft.functions.TextFunctions.lowerTokens($"text"))
          .as("w"))
      .transform(Barrier(_))
    def grid(src: String): Array[Long] =
      toks.filter($"source" === src)
        .agg(CountMin.sketch(512)($"w")).head().getSeq[Long](0).toArray
    val est = CountMin.innerProduct(grid("src0"), grid("src1"), 512)
    val counts = toks.groupBy($"source", $"w")
      .agg(count(lit(1)).as("c"))
    val tru = counts.filter($"source" === "src0").select($"w", $"c".as("ca"))
      .join(counts.filter($"source" === "src1")
        .select($"w", $"c".as("cb")), Seq("w"))
      .agg(coalesce(sum($"ca" * $"cb"), lit(0L)).as("t"))
      .head().getLong(0)
    Seq((tru, est, est - tru))
      .toDF("true_pairs", "est_pairs", "over_mass")
  }

  /** q244/q245's per-doc `scored(score, y)`: stopword score and
    * is-English label.
    */
  private val ScoredCte =
    """scored AS (SELECT
      |    (10000 * len(list_filter(string_split_regex(lower(text),
      |        '\s+'),
      |      w -> list_contains(['the','a','of','and','to','in','is',
      |        'for','on','with'], w))))
      |      // len(string_split_regex(lower(text), '\s+')) AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents)""".stripMargin

  /** Isotonic score calibration ([[graft.operators.Calibrate]]):
    * pool-adjacent-violators fits the best MONOTONE map from the
    * stopword-share score (integer basis points) to P(lang = 'en') —
    * the calibration step that turns a quality/language classifier
    * score into a probability before thresholding. Binning makes PAV
    * distributable: one map-side equi-width binning + a 16-row
    * aggregate touch the corpus once; the inherently sequential
    * pooling runs on ≤ 16 driver rows with every rate comparison an
    * integer cross-product (no double division → no engine-divergent
    * ties). The oracle replays the EXACT pooling as a one-op-per-step
    * recursive CTE over (queue, pool-stack) list state — q220's
    * technique — and CalibrateProps pins the fold against the
    * independent minimax characterization in BigInt rationals.
    */
  val q244_isotonic_calibration: Q = Q(
    "q244_isotonic_calibration",
    s"""WITH RECURSIVE
      |$ScoredCte,
      |mm AS (SELECT MIN(score) AS lo,
      |    MAX(score) - MIN(score) + 1 AS width FROM scored),
      |bins AS (SELECT (score - (SELECT lo FROM mm)) * 16
      |      // (SELECT width FROM mm) AS bin,
      |    COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
      |  FROM scored GROUP BY 1),
      |q0 AS (SELECT list(struct_pack(b := bin, n := n, pos := pos)
      |    ORDER BY bin) AS queue FROM bins),
      |pav AS (
      |  SELECT queue,
      |    []::STRUCT(n BIGINT, pos BIGINT, w BIGINT)[] AS stack
      |  FROM q0
      |  UNION ALL
      |  SELECT
      |    CASE WHEN viol THEN queue ELSE queue[2:] END,
      |    CASE WHEN viol THEN
      |      list_append(stack[:-3], struct_pack(
      |        n := stack[-2].n + stack[-1].n,
      |        pos := stack[-2].pos + stack[-1].pos,
      |        w := stack[-2].w + stack[-1].w))
      |    ELSE
      |      list_append(stack, struct_pack(n := queue[1].n,
      |        pos := queue[1].pos, w := 1::BIGINT))
      |    END
      |  FROM (SELECT queue, stack,
      |      len(stack) >= 2 AND stack[-2].pos * stack[-1].n
      |        > stack[-1].pos * stack[-2].n AS viol
      |    FROM pav) t
      |  WHERE viol OR len(queue) > 0),
      |fin AS (SELECT stack FROM pav
      |  WHERE len(queue) = 0
      |    AND NOT (len(stack) >= 2 AND stack[-2].pos * stack[-1].n
      |      > stack[-1].pos * stack[-2].n)),
      |pools AS (SELECT unnest(stack) AS p,
      |    generate_subscripts(stack, 1) AS pi FROM fin),
      |pw AS (SELECT pi, p.n AS pn, p.pos AS ppos, p.w AS w,
      |    CAST(SUM(p.w) OVER (ORDER BY pi) AS BIGINT) AS cum_end
      |  FROM pools),
      |bo AS (SELECT bin, n, pos,
      |    ROW_NUMBER() OVER (ORDER BY bin) AS rn FROM bins)
      |SELECT bo.bin, (SELECT lo FROM mm)
      |    + (bo.bin * (SELECT width FROM mm) + 15) // 16 AS score_lo,
      |  bo.n, bo.pos, 10000 * bo.pos // bo.n AS raw_bp,
      |  10000 * pw.ppos // pw.pn AS cal_bp
      |FROM bo JOIN pw
      |  ON bo.rn > pw.cum_end - pw.w AND bo.rn <= pw.cum_end
      |ORDER BY bo.bin""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions
    val scored = Tables.loadParallel(spark, dir, "documents")
      .select(
        TextFunctions.stopwordCount($"text").cast("long").as("sw"),
        TextFunctions.tokenCount($"text").cast("long").as("nt"),
        ($"lang" === "en").cast("long").as("y"))
      .select(expr("(10000 * sw) div nt").as("score"), $"y")
    graft.operators.Calibrate.isotonicBins(scored, "score", "y", 16)
      .orderBy($"bin")
  }

  /** Exact ranking evaluation ([[graft.operators.RankEval]]) of the
    * same score q244 calibrates: Mann–Whitney AUC with midrank ties
    * (carried as 2·Σranks so every intermediate stays integral; the
    * basis-point division happens in BigInt) plus the best-F1
    * operating threshold, argmaxed by the quantized integer key
    * `(2TP·10¹²) div denom` with smallest-threshold tie-break — both
    * engines rank identical integers, so near-ties cannot diverge
    * the way a double F1 sort could. Corpus touched once by the
    * per-score aggregate; the sweep runs on the bounded score table.
    */
  val q245_rank_eval: Q = Q(
    "q245_rank_eval",
    s"""WITH $ScoredCte,
      |ps AS (SELECT score AS s, COUNT(*) AS cnt,
      |    CAST(SUM(y) AS BIGINT) AS pos FROM scored GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(SUM(pos) AS BIGINT) AS np FROM ps),
      |r AS (SELECT s, cnt, pos,
      |    COALESCE(CAST(SUM(cnt) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS BIGINT), 0) AS c,
      |    CAST(SUM(pos) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS tp,
      |    CAST(SUM(cnt) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS pp
      |  FROM ps),
      |agg AS (SELECT CAST(SUM(pos * (2 * c + cnt + 1)) AS HUGEINT)
      |    AS s2r FROM r),
      |auc AS (SELECT CAST((s2r - CAST(np AS HUGEINT) * (np + 1))
      |      * 10000 // (2 * CAST(np AS HUGEINT) * (n - np)) AS BIGINT)
      |    AS auc_bp FROM agg, tot),
      |f1s AS (SELECT s, tp, pp - tp AS fp, np - tp AS fn,
      |    2 * tp + (pp - tp) + (np - tp) AS denom,
      |    CASE WHEN 2 * tp + (pp - tp) + (np - tp) = 0
      |      THEN 0::HUGEINT
      |      ELSE (2 * CAST(tp AS HUGEINT) * 1000000000000)
      |        // (2 * tp + (pp - tp) + (np - tp)) END AS key
      |  FROM r, tot),
      |best AS (SELECT * FROM f1s ORDER BY key DESC, s LIMIT 1)
      |SELECT tot.n, tot.np AS n_pos, tot.n - tot.np AS n_neg,
      |  auc.auc_bp, best.s AS best_t, best.tp, best.fp, best.fn,
      |  CASE WHEN best.denom = 0 THEN 0
      |    ELSE CAST((10000 * 2 * CAST(best.tp AS HUGEINT))
      |      // best.denom AS BIGINT) END AS f1_bp
      |FROM tot, auc, best""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions
    val scored = Tables.loadParallel(spark, dir, "documents")
      .select(
        TextFunctions.stopwordCount($"text").cast("long").as("sw"),
        TextFunctions.tokenCount($"text").cast("long").as("nt"),
        ($"lang" === "en").cast("long").as("y"))
      .select(expr("(10000 * sw) div nt").as("score"), $"y")
    graft.operators.RankEval.aucAndBestF1(scored, "score", "y")
  }

  /** Cohen's κ between the heuristic language-ID and the annotated
    * language ([[graft.operators.Association.cohensKappa]]) — q42
    * shows the confusion MATRIX; this reduces it to the
    * chance-corrected agreement scalar an audit tracks. κ's ratio can
    * be negative and truncating vs flooring integer division diverge
    * there (the COVERAGE rule), so the exact integer numerator and
    * denominator ship instead of the quotient; po/pe basis points are
    * non-negative and safe. One corpus aggregate; the contingency
    * table is languages², driver-bounded.
    */
  val q246_cohens_kappa: Q = Q(
    "q246_cohens_kappa",
    s"""WITH conf AS (SELECT lang AS a, ${OracleSql.guessedSql} AS b, COUNT(*) AS o
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM conf),
      |agree AS (SELECT CAST(COALESCE(SUM(o), 0) AS BIGINT) AS ag
      |  FROM conf WHERE a = b),
      |rows_ AS (SELECT a AS k, CAST(SUM(o) AS BIGINT) AS r
      |  FROM conf GROUP BY 1),
      |cols_ AS (SELECT b AS k, CAST(SUM(o) AS BIGINT) AS c
      |  FROM conf GROUP BY 1),
      |pe AS (SELECT CAST(COALESCE(SUM(r * c), 0) AS HUGEINT) AS s
      |  FROM rows_ JOIN cols_ USING (k))
      |SELECT tot.n, agree.ag AS n_agree,
      |  10000 * agree.ag // tot.n AS po_bp,
      |  CAST(10000 * pe.s // (CAST(tot.n AS HUGEINT) * tot.n)
      |    AS BIGINT) AS pe_bp,
      |  CAST(CAST(tot.n AS HUGEINT) * agree.ag - pe.s AS BIGINT)
      |    AS kappa_num,
      |  CAST(CAST(tot.n AS HUGEINT) * tot.n - pe.s AS BIGINT)
      |    AS kappa_den
      |FROM tot, agree, pe""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions
    graft.operators.Association.cohensKappa(
      Tables.loadParallel(spark, dir, "documents")
        .select($"lang".as("truth"),
          TextFunctions.languageId($"text").as("guessed")),
      "truth", "guessed")
  }

  /** χ² independence of corpus composition: is language distribution
    * independent of source
    * ([[graft.operators.Association.chiSquareMilli]])? Per-cell terms
    * (O·N − r·c)²·1000 div (N·r·c) are floored at milli precision —
    * non-negative, so floor and truncate agree — and summed exactly
    * over the FULL source×lang grid (zero-observed cells contribute
    * their expected mass). Complements q219's KL drift (pairwise,
    * directional) with the classic omnibus test statistic.
    */
  val q247_chi2_independence: Q = Q(
    "q247_chi2_independence",
    """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |rows_ AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r
      |  FROM c GROUP BY 1),
      |cols_ AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS cc
      |  FROM c GROUP BY 1),
      |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM c),
      |grid AS (SELECT rows_.source, cols_.lang, rows_.r, cols_.cc,
      |    COALESCE(c.o, 0) AS o
      |  FROM rows_ CROSS JOIN cols_
      |  LEFT JOIN c ON c.source = rows_.source AND c.lang = cols_.lang),
      |terms AS (SELECT
      |    (1000 * CAST(o * n - r * cc AS HUGEINT)
      |       * CAST(o * n - r * cc AS HUGEINT))
      |      // (CAST(n AS HUGEINT) * r * cc) AS t
      |  FROM grid CROSS JOIN tot)
      |SELECT (SELECT n FROM tot) AS n,
      |  CAST(COUNT(*) AS BIGINT) AS cells,
      |  CAST(((SELECT COUNT(*) FROM rows_) - 1)
      |    * ((SELECT COUNT(*) FROM cols_) - 1) AS BIGINT) AS dof,
      |  CAST(SUM(t) AS BIGINT) AS chi2_milli
      |FROM terms""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    graft.operators.Association.chiSquareMilli(
      Tables.loadParallel(spark, dir, "documents")
        .select($"source", $"lang"),
      "source", "lang")
  }

  /** q248/q249's replicate means over `w(n_chars, rep, u)`: Poisson
    * weights `wt`, per-replicate sums `m`, and the sorted means `ord`.
    */
  private val BootstrapCtes =
    s"""wt AS (SELECT rep, n_chars,
      |    ${graft.operators.Bootstrap.weightSql("u")}
      |      AS wgt
      |  FROM w),
      |m AS (SELECT rep, CAST(SUM(wgt * n_chars) AS BIGINT) AS num,
      |    CAST(SUM(wgt) AS BIGINT) AS den FROM wt GROUP BY 1),
      |ord AS (SELECT CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS mu,
      |    ROW_NUMBER() OVER (ORDER BY CAST(num AS DOUBLE)
      |      / CAST(den AS DOUBLE)) AS rk FROM m)""".stripMargin

  /** 95% bootstrap CI on mean document length
    * ([[graft.operators.Bootstrap.meanCi]]) — error bars for corpus
    * statistics via the DETERMINISTIC Poisson bootstrap: each
    * (doc, replicate) weight is Poisson(1) drawn by comparing the
    * md5(id:rep) 60-bit prefix against exact ⌊CDF·2⁶⁰⌋ integer
    * thresholds, so all 40 replicate means — and therefore the CI
    * order statistics — reproduce bit-for-bit in both engines. One
    * corpus pass exploded ×40 map-side, one combine to 40 rows; the
    * only doubles are single IEEE divisions of exact BIGINT sums.
    */
  val q248_bootstrap_ci: Q = Q(
    "q248_bootstrap_ci",
    s"""WITH reps AS (SELECT unnest(range(40)) AS rep),
      |w AS (SELECT d.doc_id, d.n_chars, r.rep,
      |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
      |      || CAST(r.rep AS VARCHAR)), 1, 15))::BIGINT AS u
      |  FROM documents d CROSS JOIN reps r),
      |$BootstrapCtes,
      |tot AS (SELECT COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s
      |  FROM documents)
      |SELECT tot.n, CAST(tot.s AS DOUBLE) / tot.n AS mean_v,
      |  (SELECT mu FROM ord WHERE rk = 2) AS ci_lo,
      |  (SELECT mu FROM ord WHERE rk = 39) AS ci_hi
      |FROM tot""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    graft.operators.Bootstrap.meanCi(
      Tables.loadParallel(spark, dir, "documents")
        .select($"doc_id", $"n_chars"),
      "doc_id", "n_chars", reps = 40, loRank = 2, hiRank = 39)
  }

  /** CLUSTER bootstrap: q248's CI with the near-dup GROUP as the
    * resampling unit — duplicated documents are not independent
    * observations, so a doc-level bootstrap understates variance;
    * here every member of a SimHash component (q88's pairs closed by
    * [[graft.operators.Graph.connectedComponents]]; singletons
    * self-represent, q228's rule) shares its group's Poisson weight —
    * [[graft.operators.Bootstrap.meanCi]] keyed on the group id does
    * exactly that, unchanged, because the draw depends only on
    * (key, replicate). Same exact-integer determinism as q248; the
    * component map is duplicate-pairs-bounded and broadcasts.
    */
  val q249_cluster_bootstrap: Q = Q(
    "q249_cluster_bootstrap",
    s"""WITH RECURSIVE tok AS (SELECT doc_id,
      |    unnest(string_split_regex(lower(text), '\\s+')) AS w
      |  FROM documents),
      |h AS (SELECT doc_id,
      |    ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM tok),
      |${OracleSql.SimhashBitsCte},
      |sig AS (SELECT doc_id,
      |    CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END)
      |      AS BIGINT) AS sh
      |  FROM bits GROUP BY doc_id),
      |banded AS (SELECT doc_id, sh, b, (sh >> (b * 15)) & 32767 AS bv
      |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) t),
      |prs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      |  FROM banded a JOIN banded b
      |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
      |${OracleSql.components("prs", "")},
      |g AS (SELECT d.doc_id, d.n_chars,
      |    COALESCE(cc.comp, d.doc_id) AS grp
      |  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
      |reps AS (SELECT unnest(range(40)) AS rep),
      |w AS (SELECT g.n_chars, r.rep,
      |    ('0x' || substr(md5(CAST(g.grp AS VARCHAR) || ':'
      |      || CAST(r.rep AS VARCHAR)), 1, 15))::BIGINT AS u
      |  FROM g CROSS JOIN reps r),
      |$BootstrapCtes,
      |tot AS (SELECT COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s,
      |    COUNT(DISTINCT grp) AS n_groups FROM g)
      |SELECT tot.n, tot.n_groups,
      |  CAST(tot.s AS DOUBLE) / tot.n AS mean_v,
      |  (SELECT mu FROM ord WHERE rk = 2) AS ci_lo,
      |  (SELECT mu FROM ord WHERE rk = 39) AS ci_hi
      |FROM tot""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.{Bootstrap, Dedup, Graph}
    val docs = Tables.loadParallel(spark, dir, "documents")
    val labels = Graph.connectedComponents(
        Dedup.simhashNearDupPairs(docs, "text", "doc_id",
          maxDist = 3, bands = 4)
          .select($"id_a".as("u"), $"id_b".as("v")))
      .transform(Barrier(_)) // duplicate-pairs-bounded, two consumers
    // narrow (3 longs/row) with two consumers below (nGroups +
    // meanCi's pass) — checkpoint, the q221 reuse rule again
    val grouped = docs.select($"doc_id", $"n_chars")
      .join(broadcast(labels), $"doc_id" === $"id", "left")
      .select($"doc_id", $"n_chars",
        coalesce($"comp", $"doc_id").as("grp"))
      .transform(Barrier(_))
    val nGroups = grouped.select($"grp").distinct().count()
    Bootstrap.meanCi(grouped, "grp", "n_chars",
        reps = 40, loRank = 2, hiRank = 39)
      .withColumn("n_groups", lit(nGroups))
      .select($"n", $"n_groups", $"mean_v", $"ci_lo", $"ci_hi")
  }

  val all: Seq[Q] = Seq(q239_stratified_sample, q240_backoff_lm_bits,
    q241_countmin_turnstile, q242_pps_systematic, q243_join_size_sketch,
    q244_isotonic_calibration, q245_rank_eval, q246_cohens_kappa,
    q247_chi2_independence, q248_bootstrap_ci, q249_cluster_bootstrap)
}
