package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.operators.{Calibrate, RankCorr, RankEval, RetrievalEval,
  Similarity}

/** Round-7 additions: the evaluation-suite completion — ranked-
  * retrieval metrics (nDCG@k / MRR / recall@k), reciprocal-rank
  * fusion, tie-aware rank correlation (Spearman ρ / Kendall τ),
  * multi-rater agreement (Fleiss' κ), per-slice AUC with zero driver
  * state, and expected calibration error. Together with q244–q249
  * (isotonic / AUC+F1 / Cohen's κ / χ² / bootstrap) this closes the
  * measurement loop a curation pipeline runs before shipping a
  * dataset: score → rank → fuse → agree → calibrate → error-bar.
  *
  * Reference anchor: the curriculum's analytics module frames these as
  * ranked SELECTs and GROUP BYs (e.g. `3-spark-fundamentals`
  * homework's ordered aggregations); the exact-integer evaluation
  * layer is the training-data extension on top.
  */
object Extended16 {

  private def swScore(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions
    Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"source", $"lang", $"n_chars",
        TextFunctions.stopwordCount($"text").cast("long").as("sw"),
        TextFunctions.tokenCount($"text").cast("long").as("nt"))
      .withColumn("score", expr("(10000 * sw) div nt"))
  }

  /** 64-dim float cosine, DuckDB side (both engines fold
    * left-to-right, so the doubles agree bitwise).
    */
  private def cosQ(a: String, b: String): String =
    s"""${OracleSql.dotWrapped(a, b)}
       |    / (sqrt(${OracleSql.dotWrapped(a, a)}) * sqrt(${OracleSql.dotWrapped(b, b)}))""".stripMargin

  /** nDCG@10 / MRR / recall@10 of brute-force cosine retrieval
    * ([[Similarity.bruteForceTopK]]) against the label-match relevance
    * oracle — "does embedding similarity retrieve same-class
    * neighbors?", the eval every retriever/dedup-threshold decision
    * reads. The irrational 1/log₂(r+1) discount is pre-quantized into
    * ONE integer micro-weight table
    * ([[RetrievalEval.ndcgWeightsMicro]]) whose values are embedded
    * into this oracle as literals — a single source of truth, so both
    * engines compute exact integer DCG/IDCG sums and agree to the
    * bit. MRR (10⁶ div first-relevant-rank) and recall@k (10⁴·hits
    * div n_rel) are rational, hence exact. Scale shape: ranked lists
    * are queries×k rows; metrics are one groupBy(qid); the weight
    * table rides as an array literal, never a join.
    */
  val q250_ndcg_mrr: Q = {
    val k = 10
    val w = RetrievalEval.ndcgWeightsMicro(k)
    val pref = RetrievalEval.idcgPrefixMicro(k)
    val wVals = w.zipWithIndex
      .map { case (wt, i) => s"(${i + 1}, ${wt})" }.mkString(", ")
    val pVals = pref.zipWithIndex
      .map { case (cw, i) => s"(${i + 1}, ${cw})" }.mkString(", ")
    Q("q250_ndcg_mrr",
      s"""WITH q AS (SELECT vec_id AS qid, label AS ql, embedding AS qe
        |  FROM embeddings WHERE vec_id < 8),
        |sc AS (SELECT qid, ql, vec_id AS cid, label AS cl,
        |    ${cosQ("qe", "embedding")} AS cos
        |  FROM q, embeddings WHERE vec_id <> qid),
        |rk AS (SELECT qid, ql, cid, cl,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, cid) AS rank FROM sc),
        |w(rank, wt) AS (VALUES $wVals),
        |pw(m, cw) AS (VALUES $pVals),
        |nrel AS (SELECT q.qid, CAST(COUNT(e.vec_id) AS BIGINT) AS n_rel
        |  FROM q LEFT JOIN embeddings e
        |    ON e.label = q.ql AND e.vec_id <> q.qid GROUP BY 1),
        |m AS (SELECT qid,
        |    CAST(COALESCE(SUM(CASE WHEN cl = ql THEN wt END), 0)
        |      AS BIGINT) AS dcg_micro,
        |    CAST(COALESCE(SUM(CASE WHEN cl = ql THEN 1 END), 0)
        |      AS BIGINT) AS hits,
        |    MIN(CASE WHEN cl = ql THEN rank END) AS fr
        |  FROM rk JOIN w USING (rank) WHERE rank <= $k GROUP BY 1)
        |SELECT n.qid, n.n_rel,
        |  COALESCE(m.hits, 0) AS hits,
        |  COALESCE(m.dcg_micro, 0) AS dcg_micro,
        |  CAST(CASE WHEN n.n_rel <= 0 THEN 0 ELSE pw.cw END
        |    AS BIGINT) AS idcg_micro,
        |  CAST(CASE WHEN n.n_rel <= 0 OR pw.cw <= 0 THEN 0
        |    ELSE (10000 * COALESCE(m.dcg_micro, 0)) // pw.cw END
        |    AS BIGINT) AS ndcg_bp,
        |  CAST(CASE WHEN m.fr IS NULL THEN 0
        |    ELSE 1000000 // m.fr END AS BIGINT) AS mrr_micro,
        |  CAST(CASE WHEN n.n_rel <= 0 THEN 0
        |    ELSE (10000 * COALESCE(m.hits, 0)) // n.n_rel END
        |    AS BIGINT) AS recall_bp
        |FROM nrel n LEFT JOIN m USING (qid)
        |LEFT JOIN pw ON pw.m = LEAST(n.n_rel, $k)
        |ORDER BY qid""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val emb = Tables.loadParallel(spark, dir, "embeddings")
      // 8 rows, three consumers (retrieval probe, relevance join, the
      // n_rel lookup) — checkpoint so the pruned scan runs once
      val queries = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"label".as("ql"),
          $"embedding".as("qvec"))
        .transform(Barrier(_))
      val ranked = Similarity.bruteForceTopK(
        broadcast(queries.select($"qid", $"qvec")),
        emb.select($"vec_id".as("cid"), $"embedding".as("cvec")), k)
      // ranked is queries×k rows — broadcast it INTO the label scan,
      // never the corpus into it
      val withRel = Tables.load(spark, dir, "embeddings")
        .select($"vec_id".as("cid"), $"label".as("cl"))
        .join(broadcast(ranked.select($"qid", $"rank", $"cid")), "cid")
        .join(broadcast(queries.select($"qid", $"ql")), "qid")
        .select($"qid", $"rank",
          ($"cl" === $"ql").cast("long").as("rel"))
      // n_rel per query = corpus label count − 1 (self): one label
      // histogram instead of a per-query relevance join
      val labelCounts = Tables.load(spark, dir, "embeddings")
        .groupBy($"label").agg(count(lit(1)).as("_lc"))
      val nRel = queries.select($"qid", $"ql")
        .join(broadcast(labelCounts), $"ql" === $"label", "left")
        .select($"qid",
          (coalesce($"_lc", lit(1L)) - 1L).as("n_rel"))
      RetrievalEval.rankMetrics(withRel, nRel, k).orderBy($"qid")
    }
  }

  /** Reciprocal-rank fusion of two retrievers over the same queries —
    * exact float cosine vs the int8-quantized integer-dot scorer
    * (q166's codes): the standard way to combine rankings whose raw
    * scores are incomparable (RRF, Cormack et al. 2009 — rank is the
    * only thing shared). Contributions 10⁹ div (60+rank) are exact
    * integers ([[RetrievalEval.rrfFuse]]); ties rank the
    * on-both-lists candidate first. Scale: union of two queries×20
    * tables, one keyed aggregate, one per-query top-k window — the
    * corpus is touched only by the two retrievers themselves.
    */
  val q251_rrf_fusion: Q = {
    Q("q251_rrf_fusion",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
        |  FROM embeddings WHERE vec_id < 8),
        |sc AS (SELECT qid, vec_id AS cid,
        |    ${cosQ("qe", "embedding")} AS cos
        |  FROM q, embeddings WHERE vec_id <> qid),
        |ra AS (SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, cid) AS rank FROM sc),
        |${OracleSql.quantCodesCtes("r0")},
        |qc AS (SELECT vec_id AS qid, codes AS qcodes FROM c
        |  WHERE vec_id < 8),
        |sb AS (SELECT qc.qid, c.vec_id AS cid,
        |    CAST(list_reduce(list_transform(range(1, 65),
        |      i -> c.codes[i] * qc.qcodes[i]), (x, y) -> x + y)
        |      AS BIGINT) AS qscore
        |  FROM c, qc WHERE c.vec_id <> qc.qid),
        |rb AS (SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY qscore DESC, cid) AS rank FROM sb),
        |u AS (SELECT qid, cid, rank FROM ra WHERE rank <= 20
        |  UNION ALL SELECT qid, cid, rank FROM rb WHERE rank <= 20),
        |f AS (SELECT qid, cid,
        |    CAST(SUM(1000000000 // (60 + rank)) AS BIGINT)
        |      AS rrf_micro,
        |    CAST(COUNT(*) AS BIGINT) AS n_lists
        |  FROM u GROUP BY 1, 2),
        |rk AS (SELECT qid, cid, rrf_micro, n_lists,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        |      rrf_micro DESC, n_lists DESC, cid) AS rank FROM f)
        |SELECT qid, CAST(rank AS INT) AS rank, cid, rrf_micro, n_lists
        |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      import graft.functions.Let
      val emb = Tables.loadParallel(spark, dir, "embeddings")
      // 8 rows, two consumers (float probe + its int8 codes) —
      // checkpoint so the pruned scan runs once
      val q = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
        .transform(Barrier(_))
      val rankA = Similarity.bruteForceTopK(broadcast(q),
        emb.select($"vec_id".as("cid"), $"embedding".as("cvec")), 20)
        .select($"qid", $"cid", $"rank")
      def codes(e: org.apache.spark.sql.Column) =
        Let(array_min(e).cast("double"),
            array_max(e).cast("double")) { (mn, mx) =>
          when(mx > mn, transform(e, v =>
            least(floor((v.cast("double") - mn) * 255 / (mx - mn))
              .cast("long"), lit(255L))))
            .otherwise(transform(e, _ => lit(0L)))
        }
      val c = emb.select($"vec_id", codes($"embedding").as("codes"))
      val qc = q.select($"qid", codes($"qvec").as("qcodes"))
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"qscore".desc, $"cid")
      val rankB = c.crossJoin(broadcast(qc))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id".as("cid"),
          aggregate(zip_with($"codes", $"qcodes", (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("qscore"))
        .withColumn("rank", row_number().over(wB))
        .filter($"rank" <= 20)
        .select($"qid", $"cid", $"rank")
      RetrievalEval.rrfFuse(Seq(rankA, rankB), 60, 5)
        .orderBy($"qid", $"rank")
    }
  }

  /** Tie-aware rank correlation between two quality signals — the
    * stopword-rate score vs document length
    * ([[RankCorr.spearmanKendall]]): "do my two filters order the
    * corpus the same way?" asked before combining them. Both signals
    * quantize to a 64-value axis (ρ/τ are rank statistics — invariant
    * up to the quantization, which IS the operator's contract), the
    * corpus is touched once by the joint-cell count, and every pair
    * statistic comes from dense 2-D suffix sums over the ≤64² grid —
    * never O(n²) pairs. The square-root denominators of ρ and τ_b
    * ship as SIGNED SQUARES in basis points (exact integers); τ_a
    * ships as its exact fraction (num may be negative — never
    * divided, the COVERAGE.md rule).
    */
  val q252_rank_corr: Q = Q(
    "q252_rank_corr",
    s"""WITH s0 AS (SELECT ${OracleSql.ScoreSql} AS sc, n_chars FROM documents),
      |s AS (SELECT (sc * 64) // 10001 AS x,
      |    LEAST(n_chars // 64, 63) AS y FROM s0),
      |cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM s GROUP BY 1, 2),
      |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS nx FROM cells
      |  GROUP BY 1),
      |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS ny FROM cells
      |  GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
      |cd AS (SELECT
      |    CAST(COALESCE(SUM(CASE WHEN b.x > a.x AND b.y > a.y
      |      THEN a.c * b.c END), 0) AS HUGEINT) AS conc,
      |    CAST(COALESCE(SUM(CASE WHEN b.x > a.x AND b.y < a.y
      |      THEN a.c * b.c END), 0) AS HUGEINT) AS disc
      |  FROM cells a, cells b),
      |tx AS (SELECT CAST(SUM(nx * (nx - 1) // 2) AS HUGEINT) AS tx
      |  FROM mx),
      |ty AS (SELECT CAST(SUM(ny * (ny - 1) // 2) AS HUGEINT) AS ty
      |  FROM my),
      |txy AS (SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0)
      |    AS HUGEINT) AS txy FROM cells),
      |rx AS (SELECT x, nx, 2 * COALESCE(CAST(SUM(nx) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS BIGINT), 0) + nx + 1 AS u FROM mx),
      |ry AS (SELECT y, ny, 2 * COALESCE(CAST(SUM(ny) OVER (ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS BIGINT), 0) + ny + 1 AS v FROM my),
      |sp AS (SELECT
      |    (SELECT CAST(SUM(CAST(nx AS HUGEINT) * u) AS HUGEINT)
      |      FROM rx) AS su,
      |    (SELECT CAST(SUM(CAST(nx AS HUGEINT) * u * u) AS HUGEINT)
      |      FROM rx) AS suu,
      |    (SELECT CAST(SUM(CAST(ny AS HUGEINT) * v) AS HUGEINT)
      |      FROM ry) AS sv,
      |    (SELECT CAST(SUM(CAST(ny AS HUGEINT) * v * v) AS HUGEINT)
      |      FROM ry) AS svv,
      |    (SELECT CAST(SUM(CAST(c AS HUGEINT) * u * v) AS HUGEINT)
      |      FROM cells JOIN rx USING (x) JOIN ry USING (y)) AS suv),
      |fin AS (SELECT n, conc, disc, tx, ty, txy,
      |    CAST(n AS HUGEINT) * (n - 1) // 2 AS pairs,
      |    n * suv - su * sv AS num,
      |    n * suu - su * su AS varx,
      |    n * svv - sv * sv AS vary
      |  FROM tot, cd, tx, ty, txy, sp)
      |SELECT CAST(n AS BIGINT) AS n, CAST(pairs AS BIGINT) AS pairs,
      |  CAST(conc AS BIGINT) AS conc, CAST(disc AS BIGINT) AS disc,
      |  CAST(tx AS BIGINT) AS ties_x, CAST(ty AS BIGINT) AS ties_y,
      |  CAST(txy AS BIGINT) AS ties_xy,
      |  CAST(conc - disc AS BIGINT) AS tau_a_num,
      |  CAST(CASE WHEN (pairs - tx) * (pairs - ty) = 0 THEN 0
      |    WHEN conc >= disc THEN (10000 * (conc - disc)
      |      * (conc - disc)) // ((pairs - tx) * (pairs - ty))
      |    ELSE -((10000 * (disc - conc) * (disc - conc))
      |      // ((pairs - tx) * (pairs - ty))) END AS BIGINT)
      |    AS tau_b2_signed_bp,
      |  CAST(CASE WHEN varx * vary = 0 THEN 0
      |    WHEN num >= 0 THEN (10000 * num * num) // (varx * vary)
      |    ELSE -((10000 * num * num) // (varx * vary)) END AS BIGINT)
      |    AS rho2_signed_bp
      |FROM fin""".stripMargin) { (spark, dir) =>
    RankCorr.spearmanKendall(
      swScore(spark, dir)
        .select(expr("(score * 64) div 10001").as("qx"),
          expr("least(n_chars div 64, 63)").as("qy")),
      "qx", "qy")
  }

  /** Fleiss' κ across THREE language raters — the annotation (lang),
    * the marker-lexicon heuristic
    * ([[graft.functions.TextFunctions.languageId]]), and a
    * stopword-rate threshold — each collapsed to en/other: "do my
    * labelers agree beyond chance?" for n > 2 raters, where Cohen's κ
    * (q246) stops. Unlike the two-rater bounded-collect form this is
    * FULLY distributed ([[graft.operators.Association.fleissKappa]]):
    * Σn_ij² and Σc_j² are keyed aggregates over the (item, category)
    * count table; κ's possibly-negative ratio ships as its exact
    * integer num/den pair (the q246 rule).
    */
  val q253_fleiss_kappa: Q = Q(
    "q253_fleiss_kappa",
    s"""WITH ${OracleSql.LangRatersSql}
      |  UNION ALL
      |  SELECT doc_id, CASE WHEN ${OracleSql.ScoreSql} >= 1500 THEN 'en'
      |    ELSE 'other' END FROM documents),
      |nij AS (SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS nij
      |  FROM r GROUP BY 1, 2),
      |s AS (SELECT CAST(SUM(nij * nij) AS HUGEINT) AS s,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_items FROM nij),
      |t AS (SELECT CAST(SUM(cj * cj) AS HUGEINT) AS t FROM
      |  (SELECT cat, SUM(nij) AS cj FROM nij GROUP BY 1))
      |SELECT n_items, CAST(3 AS BIGINT) AS n_raters,
      |  CAST((10000 * (s - n_items * 3))
      |    // (CAST(n_items AS HUGEINT) * 3 * 2) AS BIGINT) AS po_bp,
      |  CAST((10000 * t) // (CAST(n_items AS HUGEINT) * 3
      |    * n_items * 3) AS BIGINT) AS pe_bp,
      |  CAST(CAST(n_items AS HUGEINT) * 3 * (s - n_items * 3)
      |    - 2 * t AS BIGINT) AS kappa_num,
      |  CAST(2 * (CAST(n_items AS HUGEINT) * 3 * n_items * 3 - t)
      |    AS BIGINT) AS kappa_den
      |FROM s, t""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions
    val rated = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"lang",
        TextFunctions.languageId($"text").as("gid"),
        TextFunctions.stopwordCount($"text").cast("long").as("sw"),
        TextFunctions.tokenCount($"text").cast("long").as("nt"))
      .select($"doc_id",
        when($"lang" === "en", "en").otherwise("other").as("r1"),
        when($"gid" === "en", "en").otherwise("other").as("r2"),
        when(expr("(10000 * sw) div nt") >= 1500, "en")
          .otherwise("other").as("r3"))
    graft.operators.Association.fleissKappa(rated, "doc_id",
      Seq("r1", "r2", "r3"))
  }

  /** Per-source AUC of the stopword score against the is-English
    * label ([[RankEval.groupAuc]]) — q245's scalar sliced by source
    * with ZERO driver state: the per-(source, score) table carries the
    * midrank identity through windows PARTITIONED BY source, so a
    * thousand-slice audit runs exactly like this four-slice one.
    * Groups with one class report −1 (undefined), matching q245's
    * convention; the Σ2ranks sum rides in decimal(38,0) (HUGEINT in
    * the oracle) so per-group row counts past 2³¹ cannot overflow.
    */
  val q254_group_auc: Q = Q(
    "q254_group_auc",
    s"""WITH scored AS (SELECT source, ${OracleSql.ScoreSql} AS s,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |ps AS (SELECT source, s, CAST(COUNT(*) AS BIGINT) AS cnt,
      |    CAST(SUM(y) AS BIGINT) AS pos FROM scored GROUP BY 1, 2),
      |r AS (SELECT source, s, cnt, pos,
      |    COALESCE(CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS BIGINT), 0) AS c FROM ps),
      |g AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(SUM(pos) AS BIGINT) AS np,
      |    CAST(SUM(CAST(pos AS HUGEINT) * (2 * c + cnt + 1))
      |      AS HUGEINT) AS s2r
      |  FROM r GROUP BY 1)
      |SELECT source, n, np AS n_pos, n - np AS n_neg,
      |  CASE WHEN np = 0 OR np = n THEN -1
      |    ELSE CAST(((s2r - CAST(np AS HUGEINT) * (np + 1)) * 10000)
      |      // (2 * CAST(np AS HUGEINT) * (n - np)) AS BIGINT)
      |  END AS auc_bp
      |FROM g ORDER BY source""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    RankEval.groupAuc(
      swScore(spark, dir)
        .select($"source", $"score",
          ($"lang" === "en").cast("long").as("y")),
      "source", "score", "y")
      .orderBy($"source")
  }

  /** Expected calibration error of the stopword score read as an
    * is-English probability ([[Calibrate.eceBins]]) — the one-number
    * audit of q244's calibration story over 10 fixed basis-point
    * bins. The per-bin gap telescopes to ONE integer division
    * (Σ|10⁴·pos_b − Σconf_b| div N), so the whole query is a single
    * corpus aggregate plus arithmetic on ≤ 10 rows.
    */
  val q255_ece: Q = Q(
    "q255_ece",
    s"""WITH scored AS (SELECT ${OracleSql.ScoreSql} AS s,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |b AS (SELECT LEAST((s * 10) // 10000, 9) AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos,
      |    CAST(SUM(s) AS BIGINT) AS conf_sum
      |  FROM scored GROUP BY 1),
      |t AS (SELECT CAST(SUM(ABS(10000 * pos - conf_sum)) AS BIGINT)
      |    AS g, CAST(SUM(n) AS BIGINT) AS nt FROM b)
      |SELECT bin, n, pos, conf_sum,
      |  ABS(10000 * pos - conf_sum) AS gap_abs,
      |  g // nt AS ece_bp
      |FROM b, t ORDER BY bin""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Calibrate.eceBins(
      swScore(spark, dir)
        .select($"score", ($"lang" === "en").cast("long").as("y")),
      "score", "y", 10)
      .orderBy($"bin")
  }

  val all: Seq[Q] = Seq(q250_ndcg_mrr, q251_rrf_fusion, q252_rank_corr,
    q253_fleiss_kappa, q254_group_auc, q255_ece)
}
