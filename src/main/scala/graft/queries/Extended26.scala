package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Exact._
import graft.operators.{ExactSubstr, PrefixSum}

/** Round-9 tranche: exact-substring dedup at a LENGTH THRESHOLD (the
  * Lee et al. 2021 ExactSubstr recipe — detect and strip maximal
  * cross-document duplicated token runs ≥ L with exact boundaries,
  * where q216/q262 operate at fixed k-gram granularity), and the
  * fact-scale NTILE demonstrator (the q125 two-phase-rank discipline
  * applied to the 6 M-row lineitem table — the table where a
  * partition-less window would actually kill the job).
  *
  * Reference anchor: the curriculum's dedup homework
  * (`2-fact-data-modeling`) and window labs
  * (`4-applying-analytical-patterns/lecture-lab/
  * window_based_analysis.sql`), scaled Spark-first.
  */
object Extended26 {

  // shared detection CTEs (k = 8, minTokens = 16): positional 8-gram
  // 60-bit hashes → cross-doc hash join → maximal diagonal runs via
  // the rownumber-difference trick → runs >= 16 tokens mark the
  // HIGHER doc id side (the lower id keeps its copy)
  private val DupRunCtes =
    """t AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS tk FROM documents),
      |g0 AS (SELECT doc_id, tk,
      |    unnest(range(1, greatest(len(tk) - 7, 0) + 1)) AS i FROM t),
      |occ AS (SELECT doc_id, i - 1 AS pos,
      |    ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))
      |      ::BIGINT AS hv FROM g0),
      |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
      |  FROM occ a JOIN occ b ON a.hv = b.hv AND a.doc_id < b.doc_id),
      |r AS (SELECT da, db, pa - pb AS diag, pb,
      |    pb - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb
      |      ORDER BY pb) AS grp FROM m),
      |runs AS (SELECT da, db, diag, grp, MIN(pb) AS s,
      |    COUNT(*) + 7 AS len FROM r GROUP BY 1, 2, 3, 4),
      |marks AS (SELECT DISTINCT db AS doc_id, s, len FROM runs
      |  WHERE len >= 16)""".stripMargin

  /** Long-duplicate-span detection ([[ExactSubstr.dupSpans]], k = 8,
    * L = 16): per marked document, the merged ≥16-token duplicated
    * intervals — span count, covered tokens, longest span. The oracle
    * replays anchors → diagonal runs → interval union declaratively,
    * so run boundaries AND the per-doc union are hash-checked. Only
    * docs sharing a ≥16-token run with a lower-id doc appear.
    */
  val q287_dup_span_detect: Q = Q(
    "q287_dup_span_detect",
    s"""WITH $DupRunCtes,
      |${OracleSql.spanIslands("marks", "")}
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(e - s) AS BIGINT) AS dup_tokens,
      |  CAST(MAX(e - s) AS BIGINT) AS max_span
      |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    ExactSubstr.dupSpans(Tables.loadParallel(spark, dir, "documents"),
        "doc_id", "text", k = 8, minTokens = 16)
      .groupBy($"doc".as("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum($"len").as("dup_tokens"),
        max($"len").as("max_span"))
      .orderBy($"doc_id")
  }

  /** Long-duplicate-span REMOVAL ([[ExactSubstr.strip]]): every token
    * of a doc covered by a ≥16-token run already present in a
    * lower-id doc is dropped; output is content-checked via
    * md5(clean_text) so the whole reconstruct — boundaries, token
    * order, joins — is hash-verified without shipping corpus text
    * through the compare.
    */
  val q288_dup_span_strip: Q = Q(
    "q288_dup_span_strip",
    s"""WITH $DupRunCtes,
      |mp0 AS (SELECT doc_id, unnest(range(s + 1, s + len + 1)) AS i
      |  FROM marks),
      |mpos AS (SELECT DISTINCT doc_id, i FROM mp0),
      |${OracleSql.StripKeepCtes}
      |SELECT t.doc_id, md5(COALESCE(a.clean_text, '')) AS clean_md5,
      |  CAST(len(t.tk) AS BIGINT) AS n_tokens,
      |  CAST(len(t.tk) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
      |FROM t LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    ExactSubstr.strip(Tables.loadParallel(spark, dir, "documents"),
        "doc_id", "text", k = 8, minTokens = 16)
      .select($"doc_id", md5($"clean_text").as("clean_md5"),
        $"n_tokens", $"n_removed")
      .orderBy($"doc_id")
  }

  /** Fact-scale NTILE(100): price percentile buckets over the WHOLE
    * lineitem table — the q125 rewrite pattern proven where it
    * matters: the global ordinal rides
    * [[PrefixSum.withOrdinals]]' range-partitioned two-phase scan
    * (never WindowExec's single-task funnel), and the bucket id is a
    * pure integer function of (rank, n). At 100 TB this plan's only
    * corpus-sized moves are the range exchange and the bucket
    * aggregate; the oracle's ntile window proves bucket-boundary
    * agreement row for row.
    */
  val q289_fact_ntile: Q = Q(
    "q289_fact_ntile",
    """WITH d AS (SELECT l_extendedprice,
      |    ntile(100) OVER (ORDER BY l_extendedprice, l_orderkey,
      |      l_linenumber) AS pct
      |  FROM lineitem)
      |SELECT pct, COUNT(*) AS n_items,
      |  MIN(l_extendedprice) AS min_price,
      |  MAX(l_extendedprice) AS max_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val (ranked, n) = PrefixSum.withOrdinals(
      Tables.loadParallel(spark, dir, "lineitem")
        .select($"l_extendedprice", $"l_orderkey", $"l_linenumber"),
      Seq("l_extendedprice", "l_orderkey", "l_linenumber"), "rn")
    val k = 100L
    val small = n / k
    val big = small + 1
    val rem = n % k
    val cut = rem * big
    ranked
      .withColumn("pct",
        when($"rn" <= cut, expr(s"(rn - 1) DIV $big + 1"))
          .otherwise(expr(s"$rem + (rn - 1 - $cut) DIV " +
            s"${math.max(small, 1L)} + 1"))
          .cast("int"))
      .groupBy($"pct")
      .agg(count(lit(1)).as("n_items"),
        min($"l_extendedprice").as("min_price"),
        max($"l_extendedprice").as("max_price"),
        dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"pct")
  }

  /** Incremental long-dup-span detection
    * ([[ExactSubstr.incrementalDupSpans]], the q286/q167 arrival
    * pattern for exact substrings): today's crawl (doc_id > cut)
    * probed against the standing corpus (doc_id ≤ cut) — history
    * never re-pairs against itself, delta docs carry the marks, and
    * with append-only ids the result is EXACTLY the full q287 answer
    * restricted to delta docs (property-pinned; the oracle states it
    * that way declaratively). cut = max doc_id div 2, the q286
    * convention.
    */
  val q291_incremental_dup_spans: Q = Q(
    "q291_incremental_dup_spans",
    s"""WITH $DupRunCtes,
      |cutc AS (SELECT MAX(doc_id) // 2 AS cut FROM documents),
      |m2 AS (SELECT m.doc_id, m.s, m.len FROM marks m, cutc
      |  WHERE m.doc_id > cutc.cut),
      |${OracleSql.spanIslands("m2", "")}
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(e - s) AS BIGINT) AS dup_tokens,
      |  CAST(MAX(e - s) AS BIGINT) AS max_span
      |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    val cut = docs.agg(max($"doc_id")).as[Long].head() / 2
    ExactSubstr.incrementalDupSpans(
        docs.filter($"doc_id" <= cut),
        docs.filter($"doc_id" > cut),
        "doc_id", "text", k = 8, minTokens = 16)
      .groupBy($"doc".as("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum($"len").as("dup_tokens"),
        max($"len").as("max_span"))
      .orderBy($"doc_id")
  }

  /** Within-document repetition filters (the Gopher/MassiveText
    * quality rules, Rae et al. 2021, token-level analog): per doc and
    * n ∈ {2,3,4}, the fraction of n-gram INSTANCES that are repeats
    * (1 − distinct/total, in exact basis points) plus the most
    * frequent 4-gram's count and instance share — the "document
    * stuck in a loop" signal quality pipelines cut on. All ratios
    * are exact integer divisions of counts (cross-engine identical).
    *
    * Scale shape: ONE generator explodes all three n-gram streams
    * tagged by n (no per-doc quadratic in-row counting — a repeated
    * 4-gram census via nested array functions would be O(len²) per
    * row); two keyed aggregates (map-side combinable) and a
    * broadcast-free pivot by the 3-value n column; the doc spine
    * left-joins the (doc)-keyed stats, so short docs (< n tokens)
    * report zeros instead of vanishing.
    */
  val q290_repetition_stats: Q = Q(
    "q290_repetition_stats",
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS tk FROM documents),
      |nn AS (SELECT unnest([2, 3, 4]) AS n),
      |gi AS (SELECT doc_id, n, tk,
      |    unnest(range(1, greatest(len(tk) - n + 1, 0) + 1)) AS i
      |  FROM t CROSS JOIN nn),
      |g AS (SELECT doc_id, n,
      |    array_to_string(tk[i:i+n-1], ' ') AS gram FROM gi),
      |c AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g
      |  GROUP BY 1, 2, 3),
      |s AS (SELECT doc_id, n, SUM(c) AS tot, COUNT(*) AS dis,
      |    MAX(c) AS mx FROM c GROUP BY 1, 2),
      |p AS (SELECT doc_id,
      |    MAX(CASE WHEN n = 2 THEN 10000 * (tot - dis) // tot END) AS r2,
      |    MAX(CASE WHEN n = 3 THEN 10000 * (tot - dis) // tot END) AS r3,
      |    MAX(CASE WHEN n = 4 THEN 10000 * (tot - dis) // tot END) AS r4,
      |    MAX(CASE WHEN n = 4 THEN mx END) AS m4,
      |    MAX(CASE WHEN n = 4 THEN 10000 * mx // tot END) AS s4
      |  FROM s GROUP BY 1)
      |SELECT t.doc_id,
      |  CAST(COALESCE(p.r2, 0) AS BIGINT) AS rep2_bp,
      |  CAST(COALESCE(p.r3, 0) AS BIGINT) AS rep3_bp,
      |  CAST(COALESCE(p.r4, 0) AS BIGINT) AS rep4_bp,
      |  CAST(COALESCE(p.m4, 0) AS BIGINT) AS top4_cnt,
      |  CAST(COALESCE(p.s4, 0) AS BIGINT) AS top4_bp
      |FROM t LEFT JOIN p USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.positionalShingles
    val docs = Tables.loadParallel(spark, dir, "documents")
    val grams = docs.select($"doc_id",
        explode(concat(
          transform(positionalShingles($"text", 2),
            x => struct(lit(2).as("n"), x.as("gram"))),
          transform(positionalShingles($"text", 3),
            x => struct(lit(3).as("n"), x.as("gram"))),
          transform(positionalShingles($"text", 4),
            x => struct(lit(4).as("n"), x.as("gram"))))).as("x"))
      .select($"doc_id", $"x.n".as("n"), $"x.gram".as("gram"))
    val s = grams.groupBy($"doc_id", $"n", $"gram")
      .agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"n")
      .agg(sum($"c").as("tot"), count(lit(1)).as("dis"),
        max($"c").as("mx"))
    val p = s.groupBy($"doc_id")
      .agg(
        max(when($"n" === 2, expr("10000 * (tot - dis) DIV tot")))
          .as("r2"),
        max(when($"n" === 3, expr("10000 * (tot - dis) DIV tot")))
          .as("r3"),
        max(when($"n" === 4, expr("10000 * (tot - dis) DIV tot")))
          .as("r4"),
        max(when($"n" === 4, $"mx")).as("m4"),
        max(when($"n" === 4, expr("10000 * mx DIV tot"))).as("s4"))
    docs.select($"doc_id")
      .join(p, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"r2", lit(0L)).as("rep2_bp"),
        coalesce($"r3", lit(0L)).as("rep3_bp"),
        coalesce($"r4", lit(0L)).as("rep4_bp"),
        coalesce($"m4", lit(0L)).as("top4_cnt"),
        coalesce($"s4", lit(0L)).as("top4_bp"))
      .orderBy($"doc_id")
  }

  val all: Seq[Q] = Seq(q287_dup_span_detect, q288_dup_span_strip,
    q289_fact_ntile, q290_repetition_stats, q291_incremental_dup_spans)
}
