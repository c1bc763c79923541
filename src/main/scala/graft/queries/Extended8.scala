package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Barrier, Tables}

/** Round-8 surface batch: corpus-level duplicated-span fraction (the
  * Gopher/MassiveText repetition signal at corpus scope), temperature-
  * based multilingual mix apportionment (exact integer sqrt +
  * largest-remainder quotas), the deterministic hash-ordered sample
  * that materializes those quotas, and source-concentration monitors
  * (Gini / top-share / HHI) over token mass.
  */
object Extended8 {

  // distinct 8-gram shingles in DuckDB form (mirrors the Spark-side
  // SortedShinglesExpr kernel: lowercase, whitespace split, distinct)
  private val Sh8Sql =
    """list_distinct(list_transform(
      |  range(1, greatest(len(string_split_regex(lower(text), '\s+')) - 7, 1) + 1),
      |  i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+7], ' ')))""".stripMargin

  /** Corpus-level duplicated-span fraction — the Gopher repetition
    * signal at corpus scope: for each document, the share of its
    * distinct 8-gram spans that also occur in at least one OTHER
    * document; per source, the total/duplicated span counts and how
    * many documents exceed the 50% duplicated-span flag. Distinct
    * from q123 (intra-document repeats only) and q72 (top boilerplate
    * list): this is the per-document quality gate a corpus-wide
    * repetition filter applies.
    *
    * Scale shape: spans hash to 60-bit longs inside the scan, so the
    * wide moves are all hash-keyed — the document-frequency aggregate
    * and the join back are both hash-partitioned on `hv`, and AQE
    * map-side-combines the count. Text never shuffles; the staged
    * (doc, source, hv) frame is checkpointed once and feeds both the
    * frequency pass and the rollup.
    */
  val q193_dup_span_fraction: Q = Q(
    "q193_dup_span_fraction",
    s"""WITH g AS (SELECT doc_id, source,
      |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS hv
      |  FROM (SELECT doc_id, source, unnest($Sh8Sql) AS sh
      |        FROM documents) t),
      |c AS (SELECT hv, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY hv),
      |d AS (SELECT g.doc_id, g.source, COUNT(*) AS n_spans,
      |    SUM(CASE WHEN c.df >= 2 THEN 1 ELSE 0 END) AS dup_spans
      |  FROM g JOIN c USING (hv) GROUP BY 1, 2)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_spans) AS BIGINT) AS total_spans,
      |  CAST(SUM(dup_spans) AS BIGINT) AS total_dup_spans,
      |  CAST(SUM(CASE WHEN 2 * dup_spans >= n_spans THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_flagged
      |FROM d GROUP BY source ORDER BY source""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.sortedShingles
    // hash the shingle array in one fused kernel call BEFORE the
    // explode (the q189 discipline): exploded rows are 8-byte longs
    val g = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"source",
        explode_outer(
          graft.plans.Md5PrefixLongs(sortedShingles($"text", 8)))
          .as("hv"))
      .filter($"hv".isNotNull)
      .transform(Barrier(_))
    // shingles are distinct WITHIN a doc already, so the document
    // frequency is a plain count per hash
    val c = g.groupBy($"hv").agg(count(lit(1)).as("df"))
    g.join(c, Seq("hv"))
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).as("dup_spans"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_spans").as("total_spans"),
        sum($"dup_spans").as("total_dup_spans"),
        sum(when($"dup_spans" * 2 >= $"n_spans", 1L).otherwise(0L))
          .as("n_flagged"))
      .orderBy($"source")
  }

  // exact integer sqrt: floor(sqrt(double)) is correctly rounded and
  // identical in both engines for the masses here (< 2^52), and the
  // ±1 fixup makes the result provably exact regardless — the
  // engine-independent way to get temperature-(1/2) weights
  private def isqrtSpark(m: org.apache.spark.sql.Column) = {
    val s0 = floor(sqrt(m.cast("double"))).cast("long")
    val up = when((s0 + 1) * (s0 + 1) <= m, s0 + 1).otherwise(s0)
    when(up * up > m, up - 1).otherwise(up)
  }
  private def isqrtSql(m: String) =
    s"""CASE WHEN (CASE WHEN (CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1)
       |       * (CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1) <= ($m)
       |     THEN CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1
       |     ELSE CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) END)
       |   * (CASE WHEN (CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1)
       |       * (CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1) <= ($m)
       |     THEN CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1
       |     ELSE CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) END) > ($m)
       |THEN (CASE WHEN (CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1)
       |       * (CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1) <= ($m)
       |     THEN CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1
       |     ELSE CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) END) - 1
       |ELSE (CASE WHEN (CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1)
       |       * (CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1) <= ($m)
       |     THEN CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) + 1
       |     ELSE CAST(floor(sqrt(CAST(($m) AS DOUBLE))) AS BIGINT) END) END""".stripMargin

  /** Temperature-based multilingual mix with exact apportionment —
    * the T=2 sampling rule (weight ∝ √tokens, flattening the head so
    * low-resource languages keep representation) turned into integer
    * document quotas that sum EXACTLY to the 100k budget by Hamilton
    * largest-remainder: floor quotas first, the leftover seats go to
    * the largest fractional remainders (lang asc tie-break). Every
    * step — integer sqrt, floor division, remainder ranking — is
    * exact integer arithmetic, so the mix is bit-reproducible across
    * engines and reruns. Language cardinality is tiny: everything
    * after the one aggregate is broadcast-sized.
    */
  val q194_temperature_mix: Q = Q(
    "q194_temperature_mix",
    s"""WITH s AS (SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split_regex(lower(text), '\\s+')))
      |      AS BIGINT) AS toks
      |  FROM documents GROUP BY lang),
      |w AS (SELECT lang, n_docs, toks,
      |    ${isqrtSql("toks")} AS wt FROM s),
      |t AS (SELECT *,
      |    100000 * wt // (SELECT SUM(wt) FROM w) AS base,
      |    (100000 * wt) % (SELECT SUM(wt) FROM w) AS rem
      |  FROM w),
      |r AS (SELECT *,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk,
      |    100000 - (SELECT SUM(base) FROM t) AS leftover
      |  FROM t)
      |SELECT lang, n_docs, toks, wt,
      |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
      |    AS BIGINT) AS quota
      |FROM r ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.lowerTokens
    val s = Tables.loadParallel(spark, dir, "documents")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(lowerTokens($"text")).cast("long")).as("toks"))
      .withColumn("wt", isqrtSpark($"toks"))
    // one row per language: the apportionment runs on a broadcast-
    // sized frame; the window and cross joins never see corpus rows
    val tot = s.agg(sum($"wt").as("_w")).select($"_w")
    val t = s.crossJoin(broadcast(tot))
      .withColumn("base", expr("100000 * wt DIV _w"))
      .withColumn("rem", expr("(100000 * wt) % _w"))
    val left = t.agg((lit(100000L) - sum($"base")).as("_left"))
    t.crossJoin(broadcast(left))
      .withColumn("rk",
        row_number().over(Window.orderBy($"rem".desc, $"lang")))
      .select($"lang", $"n_docs", $"toks", $"wt",
        ($"base" + when($"rk" <= $"_left", 1L).otherwise(0L))
          .as("quota"))
      .orderBy($"lang")
  }

  /** Deterministic hash-ordered quota sample — materializing a
    * per-language quota (25% of each language's docs here) as an
    * actual reproducible subsample: rank docs inside each language by
    * md5(doc_id) (uniform, content-independent, stable under
    * reprocessing — never random()) and keep rank ≤ quota. Output is
    * a per-language manifest: taken count, id checksum, token mass
    * kept — the audit line a sampling job ships with its output.
    * One window shuffle on lang; the quota join is broadcast-sized.
    */
  val q195_quota_sample: Q = Q(
    "q195_quota_sample",
    """WITH d AS (SELECT doc_id, lang,
      |    len(string_split_regex(lower(text), '\s+')) AS nt,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS hk
      |  FROM documents),
      |q AS (SELECT lang, COUNT(*) // 4 AS quota FROM d GROUP BY lang),
      |r AS (SELECT d.*, q.quota,
      |    ROW_NUMBER() OVER (PARTITION BY d.lang
      |                       ORDER BY d.hk, d.doc_id) AS rk
      |  FROM d JOIN q USING (lang))
      |SELECT lang, CAST(MIN(quota) AS BIGINT) AS quota,
      |  CAST(COUNT(*) AS BIGINT) AS n_taken,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
      |  CAST(SUM(nt) AS BIGINT) AS tokens_kept
      |FROM r WHERE rk <= quota
      |GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.lowerTokens
    val d = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"lang",
        size(lowerTokens($"text")).as("nt"),
        substring(md5($"doc_id".cast("string")), 1, 16).as("hk"))
    val q = d.groupBy($"lang")
      .agg(expr("count(1) DIV 4").as("quota"))
    d.join(broadcast(q), Seq("lang"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"lang").orderBy($"hk", $"doc_id")))
      .filter($"rk" <= $"quota")
      .groupBy($"lang")
      .agg(min($"quota").as("quota"),
        count(lit(1)).as("n_taken"),
        sum($"doc_id").as("id_checksum"),
        sum($"nt".cast("long")).as("tokens_kept"))
      .orderBy($"lang")
  }

  /** Source-concentration monitors over token mass — the "is one
    * source eating the corpus" dashboard: exact Gini coefficient
    * (Σ|xᵢ−xⱼ| over 2·n·Σx), the largest single share, and the
    * Herfindahl index, all in integer basis points. Source
    * cardinality is tiny, so the pairwise |xᵢ−xⱼ| cross join runs on
    * an aggregated broadcast-sized frame — the corpus is touched once
    * by the mass aggregate. Complements q188 (share DRIFT week-over-
    * week) with the static concentration level.
    */
  val q196_source_gini: Q = Q(
    "q196_source_gini",
    """WITH s AS (SELECT source,
      |    CAST(SUM(len(string_split_regex(lower(text), '\s+')))
      |      AS BIGINT) AS toks
      |  FROM documents GROUP BY source),
      |tot AS (SELECT COUNT(*) AS n, SUM(toks) AS x FROM s),
      |pairs AS (SELECT SUM(abs(a.toks - b.toks)) AS sd
      |  FROM s a, s b)
      |SELECT CAST(tot.n AS BIGINT) AS n_sources,
      |  CAST(tot.x AS BIGINT) AS total_tokens,
      |  CAST(10000 * pairs.sd // (2 * tot.n * tot.x) AS BIGINT)
      |    AS gini_bp,
      |  CAST((SELECT MAX(10000 * toks // tot.x) FROM s) AS BIGINT)
      |    AS top_share_bp,
      |  CAST((SELECT SUM((10000 * toks // tot.x)
      |        * (10000 * toks // tot.x)) FROM s) // 10000 AS BIGINT)
      |    AS hhi_bp
      |FROM tot, pairs""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.lowerTokens
    val s = Tables.loadParallel(spark, dir, "documents")
      .groupBy($"source")
      .agg(sum(size(lowerTokens($"text")).cast("long")).as("toks"))
      .transform(Barrier(_)) // tiny; feeds three derived aggregates
    val tot = s.agg(count(lit(1)).as("n"), sum($"toks").as("x"))
    val pairs = s.select($"toks".as("ta"))
      .crossJoin(broadcast(s.select($"toks".as("tb"))))
      .agg(sum(abs($"ta" - $"tb")).as("sd"))
    val shares = s.crossJoin(broadcast(tot))
      .select(expr("10000 * toks DIV x").as("sh"))
      .agg(max($"sh").as("top_share_bp"),
        expr("sum(sh * sh) DIV 10000").as("hhi_bp"))
    tot.crossJoin(broadcast(pairs)).crossJoin(broadcast(shares))
      .select($"n".as("n_sources"), $"x".as("total_tokens"),
        expr("10000 * sd DIV (2 * n * x)").as("gini_bp"),
        $"top_share_bp", $"hhi_bp")
  }

  /** EXACT longest duplicate token span per overlapping document pair
    * ([[graft.operators.Dedup.longestDupSpan]]) — q193 reports the
    * corpus-level FRACTION of duplicated 8-gram spans; this reports,
    * for each pair of documents sharing at least one 8-gram, the
    * exact length of their longest common contiguous token run (the
    * deduplication follow-up question: not "is there overlap" but
    * "HOW MUCH contiguous overlap"). The oracle replays the same
    * diagonal-run formulation in SQL, so the hash compare pins the
    * full algorithm — candidate generation, diagonal grouping, run
    * arithmetic — not just row counts.
    */
  val q216_longest_dup_span: Q = Q(
    "q216_longest_dup_span",
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS tk FROM documents),
      |g0 AS (SELECT doc_id, tk,
      |    unnest(range(1, greatest(len(tk) - 7, 0) + 1)) AS i FROM t),
      |g AS (SELECT doc_id, i AS pos,
      |    ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT AS hv
      |  FROM g0),
      |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
      |    a.pos - b.pos AS diag
      |  FROM g a JOIN g b USING (hv) WHERE a.doc_id < b.doc_id),
      |r AS (SELECT doc_a, doc_b, diag,
      |    pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
      |      ORDER BY pos_a) AS grp FROM m),
      |runs AS (SELECT doc_a, doc_b, COUNT(*) AS run
      |  FROM r GROUP BY doc_a, doc_b, diag, grp)
      |SELECT doc_a, doc_b, CAST(MAX(run) + 7 AS BIGINT) AS span_tokens
      |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    graft.operators.Dedup
      .longestDupSpan(Tables.loadParallel(spark, dir, "documents"),
        "doc_id", "text", k = 8)
      .orderBy($"doc_a", $"doc_b")
  }

  val all: Seq[Q] = Seq(
    q193_dup_span_fraction, q194_temperature_mix, q195_quota_sample,
    q196_source_gini, q216_longest_dup_span)
}
