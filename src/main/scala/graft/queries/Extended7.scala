package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Barrier, Tables}
import graft.functions.TextFunctions._
import graft.operators.AsOfJoin

/** Round-8 surface batch: n-gram-level benchmark decontamination (the
  * any-shared-n-gram check, strictly stronger than q73's prefix
  * fingerprint), per-language adaptive quality cutoffs (the CCNet-
  * style quantile threshold), as-of joins with a staleness bound (the
  * feature-store freshness rule), and weight-grouped winsorization
  * (robust clamping from exact integer percentiles).
  */
object Extended7 {

  /** n-gram benchmark decontamination: a test-split document is
    * contaminated if ANY of its 5-gram shingles also occurs in the
    * train split — the GPT-3-style n-gram overlap check, strictly
    * stronger than q73's shared-opening fingerprint (a copied span
    * anywhere in the document triggers it). Per source: test docs,
    * contaminated docs, and how many distinct shingles leak.
    *
    * Scale shape: shingles hash to 60-bit ints inside the scan
    * ([[graft.plans.SortedShinglesExpr]] + md5-prefix conv), so the
    * only wide moves are hash-keyed — the train set is a distinct over
    * longs, the probe is a semi join on the hash (bloom-prunable at
    * 100 TB), and text never shuffles. The staged (doc, hash) frame is
    * checkpointed once and feeds both splits.
    */
  val q189_ngram_contamination: Q = Q(
    "q189_ngram_contamination",
    s"""WITH g AS (SELECT doc_id, source,
      |    ${OracleSql.SplitSql} AS split,
      |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS hv
      |  FROM (SELECT doc_id, source, unnest(${OracleSql.shingles(5)}) AS sh
      |        FROM documents) t),
      |tr AS (SELECT DISTINCT hv FROM g WHERE split = 'train'),
      |hits AS (SELECT g.doc_id, g.source, g.hv FROM g
      |  JOIN tr USING (hv) WHERE g.split = 'test'),
      |ts AS (SELECT source, COUNT(DISTINCT doc_id) AS n_test
      |  FROM g WHERE split = 'test' GROUP BY 1),
      |hs AS (SELECT source, COUNT(DISTINCT doc_id) AS n_contaminated,
      |    COUNT(DISTINCT hv) AS n_leaked_grams
      |  FROM hits GROUP BY 1)
      |SELECT ts.source, ts.n_test,
      |  COALESCE(hs.n_contaminated, 0) AS n_contaminated,
      |  COALESCE(hs.n_leaked_grams, 0) AS n_leaked_grams
      |FROM ts LEFT JOIN hs USING (source)
      |ORDER BY source""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    // (doc, source, split, 60-bit shingle hash), staged once for both
    // split branches; explode_outer + attribute filter per PLANS.md
    // hash the shingle array in one fused kernel call BEFORE the
    // explode, so exploded rows carry 8-byte longs from the start
    val g = docs
      .select($"doc_id", $"source", datasetSplit($"doc_id").as("split"),
        explode_outer(
          graft.plans.Md5PrefixLongs(sortedShingles($"text", 5)))
          .as("hv"))
      .filter($"hv".isNotNull)
      .transform(Barrier(_))
    val trainSet = g.filter($"split" === "train").select($"hv").distinct()
    val hits = g.filter($"split" === "test")
      .join(trainSet, Seq("hv"), "left_semi")
    val perSourceHits = hits.groupBy($"source")
      .agg(countDistinct($"doc_id").as("n_contaminated"),
        countDistinct($"hv").as("n_leaked_grams"))
    g.filter($"split" === "test")
      .groupBy($"source")
      .agg(countDistinct($"doc_id").as("n_test"))
      .join(perSourceHits, Seq("source"), "left")
      .select($"source", $"n_test",
        coalesce($"n_contaminated", lit(0L)).as("n_contaminated"),
        coalesce($"n_leaked_grams", lit(0L)).as("n_leaked_grams"))
      .orderBy($"source")
  }

  /** Per-language adaptive quality cutoff — the CCNet discipline:
    * instead of one global threshold, each language keeps its own
    * top-75% by quality (stopword-density basis points, an exact
    * integer). The p25 threshold is the value at rank ⌈n/4⌉, found by
    * `4·rn ≥ n` in pure integer arithmetic — no IEEE percentile
    * positions anywhere. One window shuffle on lang, one aggregate.
    */
  val q190_adaptive_quality_cutoff: Q = Q(
    "q190_adaptive_quality_cutoff",
    """WITH d AS (SELECT doc_id, lang,
      |    len(string_split_regex(lower(text), '\s+')) AS nt,
      |    (len(list_filter(string_split_regex(lower(text), '\s+'),
      |      w -> list_contains(['the','a','of','and','to','in','is','for','on','with'], w)))
      |     * 10000) // len(string_split_regex(lower(text), '\s+'))
      |      AS qbp
      |  FROM documents),
      |w AS (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY qbp, doc_id)
      |      AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM d),
      |t AS (SELECT lang, MIN(CASE WHEN 4 * rn >= n THEN qbp END)
      |    AS thr FROM w GROUP BY lang)
      |SELECT d.lang, CAST(MIN(t.thr) AS BIGINT) AS threshold_bp,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN d.qbp >= t.thr THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(SUM(CASE WHEN d.qbp >= t.thr THEN d.nt ELSE 0 END)
      |    AS BIGINT) AS kept_tokens
      |FROM d JOIN t USING (lang)
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // the narrow (doc, lang, nt, qbp) frame is checkpointed once:
    // both the threshold pass and the final rollup read it, and the
    // tokenize+filter would otherwise run twice
    val d = Tables.loadParallel(spark, dir, "documents")
      .withColumn("_ltoks", lowerTokens($"text"))
      .select($"doc_id", $"lang", size($"_ltoks").as("nt"),
        (size(filter($"_ltoks", w => w.isin(EnStopwords: _*))) * 10000)
          .cast("long").as("sw10k"))
      .select($"doc_id", $"lang", $"nt",
        expr("sw10k DIV nt").as("qbp"))
      .transform(Barrier(_))
    val byLang = Window.partitionBy($"lang")
    val t = d
      .withColumn("rn",
        row_number().over(byLang.orderBy($"qbp", $"doc_id")))
      .withColumn("n", count(lit(1)).over(byLang))
      .groupBy($"lang")
      .agg(min(when($"rn" * 4 >= $"n", $"qbp")).as("thr"))
    // thresholds are one row per language — broadcast back, never a
    // per-group array materialization
    d.join(broadcast(t), Seq("lang"))
      .groupBy($"lang")
      .agg(min($"thr").as("threshold_bp"),
        count(lit(1)).as("n_docs"),
        sum(when($"qbp" >= $"thr", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"qbp" >= $"thr", $"nt".cast("long")).otherwise(0L))
          .as("kept_tokens"))
      .orderBy($"lang")
  }

  /** As-of join with a staleness bound ([[AsOfJoin.lastPrior]]'s new
    * `tolerance`): every purchase enriched with the user's most recent
    * view ONLY if that view is at most one hour old — the feature-
    * store freshness rule (a stale feature reads as missing, never
    * silently joined). Right rows pre-dedup to one per (user, µs) by
    * max event_id, making the pick total; the union+window kernel
    * keeps the one-shuffle shape, and the oracle replays the identical
    * running-window formulation.
    */
  val q191_asof_tolerance: Q = Q(
    "q191_asof_tolerance",
    """WITH v AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus,
      |    MAX(event_id) AS vid
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus,
      |    event_id AS pid
      |  FROM events WHERE event_type = 'purchase'),
      |u AS (SELECT user_id, tus, 0 AS side, vid,
      |    NULL::BIGINT AS pid FROM v
      |  UNION ALL
      |  SELECT user_id, tus, 1, NULL, pid FROM p),
      |w AS (SELECT *,
      |    last_value(CASE WHEN side = 0 THEN vid END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY tus, side
      |        ROWS UNBOUNDED PRECEDING) AS lvid,
      |    last_value(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY tus, side
      |        ROWS UNBOUNDED PRECEDING) AS lvt
      |  FROM u)
      |SELECT user_id, pid AS purchase_id,
      |  CASE WHEN lvt IS NOT NULL AND tus - lvt <= 3600000000
      |    THEN lvid END AS view_id,
      |  CASE WHEN lvt IS NOT NULL AND tus - lvt <= 3600000000
      |    THEN tus - lvt END AS gap_us
      |FROM w WHERE side = 1
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val views = ev.filter($"event_type" === "view")
      .groupBy($"user_id", unix_micros($"ts").as("tus"))
      .agg(max($"event_id").as("vid"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("tus"),
        $"event_id".as("pid"))
    AsOfJoin.lastPrior(purchases, views,
        $"user_id", $"user_id", $"tus", $"tus",
        tolerance = Some(lit(3600000000L)))
      .select($"user_id", $"pid".as("purchase_id"),
        $"asof.vid".as("view_id"),
        ($"tus" - $"asof.tus").as("gap_us"))
      .orderBy($"purchase_id")
  }

  /** Winsorization from exact integer percentiles, computed over the
    * VALUE-WEIGHT table (the q152 scale trick): cents pre-aggregate to
    * (event_type, cents, count) before any window, so the cumulative
    * rank pass runs over value cardinality, not row count. The p5/p95
    * clamp bounds are the actual elements at ranks ⌈n/20⌉ and
    * ⌈19n/20⌉ (`20·cum ≥ n`, `20·cum ≥ 19·n` — integer-only), and the
    * clamped sum reads straight off the grouped weights: no join back
    * to rows, ever.
    */
  val q192_winsorize: Q = Q(
    "q192_winsorize",
    """WITH e AS (SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |g AS (SELECT event_type, cents, COUNT(*) AS cnt
      |  FROM e GROUP BY 1, 2),
      |c AS (SELECT event_type, cents, cnt,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM g),
      |t AS (SELECT event_type,
      |    MIN(CASE WHEN 20 * cum >= n THEN cents END) AS lo,
      |    MIN(CASE WHEN 20 * cum >= 19 * n THEN cents END) AS hi
      |  FROM c GROUP BY 1)
      |SELECT c.event_type,
      |  CAST(MIN(t.lo) AS BIGINT) AS lo_cents,
      |  CAST(MIN(t.hi) AS BIGINT) AS hi_cents,
      |  CAST(SUM(CASE WHEN c.cents < t.lo THEN c.cnt ELSE 0 END)
      |    AS BIGINT) AS n_lo_clamped,
      |  CAST(SUM(CASE WHEN c.cents > t.hi THEN c.cnt ELSE 0 END)
      |    AS BIGINT) AS n_hi_clamped,
      |  CAST(SUM(c.cents * c.cnt) AS BIGINT) AS sum_cents,
      |  CAST(SUM(LEAST(GREATEST(c.cents, t.lo), t.hi) * c.cnt)
      |    AS BIGINT) AS sum_winsorized
      |FROM c JOIN t USING (event_type)
      |GROUP BY c.event_type ORDER BY c.event_type""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.Exact.money
    val g = Tables.load(spark, dir, "events")
      .select($"event_type", (money($"value") * 100).cast("long")
        .as("cents"))
      .groupBy($"event_type", $"cents")
      .agg(count(lit(1)).as("cnt"))
    val byType = Window.partitionBy($"event_type")
    // checkpointed: the threshold pass and the clamped rollup both
    // read the cumulative frame
    val c = g
      .withColumn("cum", sum($"cnt").over(byType.orderBy($"cents")))
      .withColumn("n", sum($"cnt").over(byType))
      .transform(Barrier(_))
    val t = c.groupBy($"event_type")
      .agg(min(when($"cum" * 20 >= $"n", $"cents")).as("lo"),
        min(when($"cum" * 20 >= $"n" * 19, $"cents")).as("hi"))
    // one threshold row per type — broadcast back onto the grouped
    // weights; the clamped sums never touch raw rows
    c.join(broadcast(t), Seq("event_type"))
      .groupBy($"event_type")
      .agg(min($"lo").as("lo_cents"), min($"hi").as("hi_cents"),
        sum(when($"cents" < $"lo", $"cnt").otherwise(0L))
          .as("n_lo_clamped"),
        sum(when($"cents" > $"hi", $"cnt").otherwise(0L))
          .as("n_hi_clamped"),
        sum($"cents" * $"cnt").as("sum_cents"),
        sum(least(greatest($"cents", $"lo"), $"hi") * $"cnt")
          .as("sum_winsorized"))
      .orderBy($"event_type")
  }

  val all: Seq[Q] = Seq(
    q189_ngram_contamination, q190_adaptive_quality_cutoff,
    q191_asof_tolerance, q192_winsorize)
}
