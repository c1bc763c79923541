package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, Similarity}

/** Round-7 surface batch: cluster-scoped semantic dedup (the SemDeDup
  * pipeline shape), priority keep-best near-dup curation (keep the
  * longest copy, not the lowest-id one), and keyset pagination — the
  * scale path q173's offset pagination documents but didn't exercise.
  */
object Extended6 {

  /** Cluster-scoped semantic dedup — the SemDeDup shape (Abbas et al.
    * 2023, arXiv:2303.09540): embed → cluster → compare pairs ONLY
    * within a cluster → drop every vector with a higher-similarity
    * lower-id neighbor. The clustering is what makes semantic dedup
    * tractable at 100 TB: the quadratic pair space is bounded per
    * cluster (n/k)² instead of the corpus-wide n², and the only wide
    * operations are the centroid-key shuffles.
    *
    * Pipeline: centroids (first-8 stub, the q63/q176 convention —
    * training is q139's Lloyd step) broadcast against the corpus for
    * assignment (zero shuffle); the within-cluster self-join shuffles
    * each side once on `centroid_id`; the removal verdict is a
    * distinct over loser ids. Cosines ride the codegen'd VectorDot
    * kernel; the oracle replays the identical sequential-fold
    * arithmetic, so the approximate pipeline itself is hash-checked
    * (q63's discipline, not a brute-force stand-in). A skewed cluster
    * (boilerplate embeddings collapsing to one centroid) skews one
    * join partition — AQE's skew split covers it, and a per-cluster
    * size cap is the curator's knob when a cluster saturates.
    *
    * Threshold 0.35 fits this synthetic corpus (near-random
    * embeddings, max pairwise cosine ~0.51): 76 of 500 vectors drop
    * at sf0.01. Real embedding spaces sit much tighter; the knob is
    * data-dependent, the shape is not.
    */
  val q182_semdedup: Q = Q(
    "q182_semdedup",
    s"""WITH ${OracleSql.IvfAssignCtes},
       |rem AS (SELECT DISTINCT b.vec_id
       |  FROM assign a JOIN assign b
       |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       |  JOIN v va ON a.vec_id = va.vec_id
       |  JOIN v vb ON b.vec_id = vb.vec_id
       |  WHERE ${OracleSql.dot("va.embedding", "vb.embedding")} / (va.vn * vb.vn)
       |    >= 0.35)
       |SELECT a.vec_id, a.centroid_id,
       |  a.vec_id NOT IN (SELECT vec_id FROM rem) AS kept
       |FROM assign a ORDER BY a.vec_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid"))
    val assigned = Similarity.ivfAssign(emb, centroids)
      .select($"vec_id", $"centroid_id")
    // norms hoisted once per side (the bruteForceTopK discipline)
    val withVec = assigned.join(emb, Seq("vec_id"))
      .withColumn("_n", Similarity.norm($"embedding"))
    val a = withVec.select($"centroid_id", $"vec_id".as("id_a"),
      $"embedding".as("_va"), $"_n".as("_na"))
    val b = withVec.select($"centroid_id", $"vec_id".as("id_b"),
      $"embedding".as("_vb"), $"_n".as("_nb"))
    val removed = a.join(b, Seq("centroid_id"))
      .filter($"id_a" < $"id_b")
      .filter(Similarity.dot($"_va", $"_vb") / ($"_na" * $"_nb")
        >= 0.35)
      .select($"id_b".as("vec_id"))
      .distinct()
    assigned
      .join(removed.withColumn("_rm", lit(true)), Seq("vec_id"), "left")
      .select($"vec_id", $"centroid_id", $"_rm".isNull.as("kept"))
      .orderBy($"vec_id")
  }

  /** Priority keep-best near-dup curation: within every verified
    * SimHash near-dup pair, the LONGEST document survives (tie →
    * lowest doc_id) — the RefinedWeb "keep the best copy" rule, vs
    * the lowest-id-keeps stance of q78/q167. Pairs come from the
    * pigeonhole-banded SimHash join (q79's candidate machinery);
    * [[graft.operators.Dedup.removeWorse]] turns them into loser ids
    * moving only (id, n_chars) — never text — and the verdict joins
    * back to the corpus as a per-document boolean.
    */
  val q183_keep_best: Q = Q(
    "q183_keep_best",
    s"""WITH ${OracleSql.SimhashBanded},
      |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM banded a JOIN banded b
      |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
      |losers AS (SELECT DISTINCT CASE
      |    WHEN da.n_chars > db.n_chars THEN p.id_b
      |    WHEN db.n_chars > da.n_chars THEN p.id_a
      |    ELSE greatest(p.id_a, p.id_b) END AS doc_id
      |  FROM pairs p JOIN documents da ON p.id_a = da.doc_id
      |               JOIN documents db ON p.id_b = db.doc_id)
      |SELECT d.doc_id, d.lang, d.n_chars,
      |  d.doc_id NOT IN (SELECT doc_id FROM losers) AS kept
      |FROM documents d ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id",
      maxDist = 3, bands = 4)
    val removed = Dedup.removeWorse(pairs,
      docs.select($"doc_id", $"n_chars"), "doc_id", "n_chars")
    docs
      .join(removed.withColumn("_rm", lit(true)), Seq("doc_id"), "left")
      .select($"doc_id", $"lang", $"n_chars", $"_rm".isNull.as("kept"))
      .orderBy($"doc_id")
  }

  /** Keyset ("seek") pagination — the deep-pagination scale path the
    * q173 scaladoc promises: instead of OFFSET n (which scans and
    * discards n rows on EVERY page — O(pages²) total work at 100 TB),
    * the client passes the last key it saw and the next page is a
    * pure range predicate + top-k. The redundant `o_orderdate >=
    * anchor` conjunct is the pushdown trick: the exact keyset
    * predicate is an OR Catalyst can't push, while the range conjunct
    * reaches the parquet scan (PushedFilters + row-group min/max
    * pruning), so the scan skips everything before the anchor page.
    * The ORDER BY + LIMIT plans as TakeOrderedAndProject — per-
    * partition top-20, never a global sort.
    */
  val q184_keyset_page: Q = Q(
    "q184_keyset_page",
    """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT) AS cents
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-06-15'
      |  AND (o_orderdate > TIMESTAMP '1997-06-15' OR o_orderkey > 7500)
      |ORDER BY o_orderdate, o_orderkey LIMIT 20""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val anchorTs = to_timestamp(lit("1997-06-15 00:00:00"))
      Tables.load(spark, dir, "orders")
        .filter($"o_orderdate" >= anchorTs &&
          ($"o_orderdate" > anchorTs || $"o_orderkey" > 7500))
        .orderBy($"o_orderdate", $"o_orderkey")
        .limit(20)
        .select($"o_orderkey", $"o_custkey",
          $"o_orderdate".cast("date").as("o_date"),
          ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
  }

  /** Correlated EXISTS / NOT EXISTS in the PROJECTION — the one
    * subquery position the anti/semi joins (q13/q14) don't cover:
    * instead of filtering, each subquery becomes a boolean column.
    * Catalyst decorrelates both into ExistenceJoin-typed hash joins
    * (guarded in PlanShapeSpec) — one pass per subquery, never a
    * per-row probe. The per-customer flags then roll up to a segment
    * profile, so the output stays compact while every customer's
    * flags are exercised underneath.
    */
  val q185_existence_join: Q = Q(
    "q185_existence_join",
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CASE WHEN has_urgent THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_with_urgent,
      |  CAST(SUM(CASE WHEN no_low THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_without_low
      |FROM (SELECT c_custkey, c_mktsegment,
      |    EXISTS(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |           AND o.o_orderpriority = '1-URGENT') AS has_urgent,
      |    NOT EXISTS(SELECT 1 FROM orders o
      |               WHERE o.o_custkey = c.c_custkey
      |               AND o.o_orderpriority = '5-LOW') AS no_low
      |  FROM customer c) t
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      Tables.load(spark, dir, "customer")
        .createOrReplaceTempView("customer")
      Tables.load(spark, dir, "orders")
        .createOrReplaceTempView("orders")
      spark.sql(
        """SELECT c_custkey, c_mktsegment,
          |  EXISTS(SELECT 1 FROM orders o
          |         WHERE o.o_custkey = c.c_custkey
          |         AND o.o_orderpriority = '1-URGENT') AS has_urgent,
          |  NOT EXISTS(SELECT 1 FROM orders o
          |             WHERE o.o_custkey = c.c_custkey
          |             AND o.o_orderpriority = '5-LOW') AS no_low
          |FROM customer c""".stripMargin)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(when($"has_urgent", 1L).otherwise(0L))
            .as("n_with_urgent"),
          sum(when($"no_low", 1L).otherwise(0L)).as("n_without_low"))
        .orderBy($"c_mktsegment")
  }

  /** Nucleus ("top-p") vocabulary truncation — per language, the
    * smallest most-frequent-first token set covering ≥ 90% of token
    * mass (the tokenizer-vocab / head-of-distribution cut, the
    * cumulative-mass sibling of q112's fixed top-k). A token is IN
    * the nucleus iff the mass cumulated STRICTLY BEFORE it (by the
    * count-desc, token-asc total order) is < 90% of the language's
    * mass — so the token crossing the 90% boundary is included and
    * coverage reaches the target with the minimal head set. The
    * comparison is pure integers (`prev_cum · 10 < total · 9`), so
    * the cut is reproducible cross-engine at any scale.
    *
    * Shape: one explode+count aggregate (map-side combined), one
    * window pass per language ordered by (count desc, token), one
    * rollup — the same single-exchange ladder every vocab query
    * rides; at 100 TB the token-count table, not the corpus, is what
    * shuffles into the window.
    */
  val q186_nucleus_vocab: Q = Q(
    "q186_nucleus_vocab",
    """WITH tc AS (SELECT lang, w, COUNT(*) AS c
      |  FROM (SELECT lang,
      |          unnest(string_split_regex(lower(text), '\s+')) AS w
      |        FROM documents) t
      |  GROUP BY 1, 2),
      |cum AS (SELECT lang, c,
      |    COALESCE(SUM(c) OVER (PARTITION BY lang
      |      ORDER BY c DESC, w
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS prev_cum,
      |    SUM(c) OVER (PARTITION BY lang) AS total
      |  FROM tc)
      |SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_vocab,
      |  CAST(COUNT(CASE WHEN prev_cum * 10 < total * 9 THEN 1 END)
      |    AS BIGINT) AS n_nucleus,
      |  CAST(SUM(CASE WHEN prev_cum * 10 < total * 9 THEN c ELSE 0 END)
      |    AS BIGINT) AS covered_tokens,
      |  CAST(MAX(total) AS BIGINT) AS total_tokens
      |FROM cum GROUP BY lang ORDER BY lang""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"c".desc, $"w")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      val wTot = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang")
      Tables.loadParallel(spark, dir, "documents")
        .select($"lang",
          explode(graft.functions.TextFunctions.lowerTokens($"text"))
            .as("w"))
        .groupBy($"lang", $"w")
        .agg(count(lit(1)).as("c"))
        .withColumn("prev_cum", coalesce(sum($"c").over(w), lit(0L)))
        .withColumn("total", sum($"c").over(wTot))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_vocab"),
          count(when($"prev_cum" * 10 < $"total" * 9, lit(1)))
            .as("n_nucleus"),
          sum(when($"prev_cum" * 10 < $"total" * 9, $"c")
            .otherwise(0L)).as("covered_tokens"),
          max($"total").as("total_tokens"))
        .orderBy($"lang")
  }

  /** User-journey Markov transition matrix: per user, events ordered
    * by (µs-truncated ts, event_id — the ns-parquet discipline) chain
    * into from→to transitions, with virtual START (into each user's
    * first event) and END (out of their last) states — entry/exit
    * analysis and next-step probabilities in one matrix, the
    * journey-level complement of the funnel queries (q15/q102/q164).
    * Shares are exact basis points over each from-state's row total
    * (`n·10⁴ DIV total` — non-negative integer division).
    *
    * Shape: lead() and row_number() ride ONE user-keyed window
    * exchange (same spec → same sort); the transition table that
    * aggregates afterwards is |states|²-bounded, so the matrix math
    * costs nothing at any corpus size — the user window is the only
    * wide operation, exactly like the sessionize/streak family.
    */
  val q187_markov_transitions: Q = Q(
    "q187_markov_transitions",
    """WITH ev AS (SELECT user_id, event_type,
      |    epoch_ns(ts) // 1000 AS us, event_id FROM events),
      |staged AS (SELECT user_id, event_type,
      |    LEAD(event_type) OVER
      |      (PARTITION BY user_id ORDER BY us, event_id) AS nxt,
      |    ROW_NUMBER() OVER
      |      (PARTITION BY user_id ORDER BY us, event_id) AS rn
      |  FROM ev),
      |tr AS (SELECT event_type AS from_state,
      |    COALESCE(nxt, 'END') AS to_state FROM staged
      |  UNION ALL
      |  SELECT 'START', event_type FROM staged WHERE rn = 1),
      |cnt AS (SELECT from_state, to_state, COUNT(*) AS n
      |  FROM tr GROUP BY 1, 2),
      |tot AS (SELECT from_state, SUM(n) AS t FROM cnt GROUP BY 1)
      |SELECT c.from_state, c.to_state, CAST(c.n AS BIGINT) AS n,
      |  CAST((c.n * 10000) // t.t AS BIGINT) AS share_bp
      |FROM cnt c JOIN tot t USING (from_state)
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    val staged = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_type",
        unix_micros($"ts").as("us"), $"event_id")
      .select($"event_type",
        lead($"event_type", 1).over(w).as("_next"),
        row_number().over(w).as("_rn"))
    val cnt = staged
      .select($"event_type".as("from_state"),
        coalesce($"_next", lit("END")).as("to_state"))
      .unionByName(staged.filter($"_rn" === 1)
        .select(lit("START").as("from_state"),
          $"event_type".as("to_state")))
      .groupBy($"from_state", $"to_state")
      .agg(count(lit(1)).as("n"))
    cnt
      .withColumn("t", sum($"n").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"from_state")))
      .select($"from_state", $"to_state", $"n",
        expr("(n * 10000) DIV t").as("share_bp"))
      .orderBy($"from_state", $"to_state")
  }

  /** Week-over-week event-mix drift — the distribution-shift monitor
    * a continuously-ingesting pipeline alarms on: each week's
    * event-type share in exact basis points (`n·10⁴ DIV week_total`),
    * L1 distance against the previous week summed over the DENSE
    * week×type matrix (absent types coalesce to 0 — a vanished type
    * must register as drift, and a sparse matrix would silently skip
    * it). Integer arithmetic end to end, so the drift score is
    * reproducible cross-engine — the PSI/KL alternatives need logs
    * and are not. ISO weeks truncate to Monday in both engines
    * (q156's calendar pin).
    *
    * Shape: one count aggregate over (week, type); the dense matrix
    * is |weeks|×|types| — dimension-sized, so the cross join, the
    * week-total window, and the per-type lag all run on a table
    * that no longer scales with the corpus.
    */
  val q188_share_drift: Q = Q(
    "q188_share_drift",
    """WITH ev AS (SELECT CAST(date_trunc('week', CAST(ts AS DATE))
      |      AS DATE) AS week, event_type FROM events),
      |cnt AS (SELECT week, event_type, COUNT(*) AS n
      |  FROM ev GROUP BY 1, 2),
      |dense AS (SELECT w.week, t.event_type,
      |    COALESCE(cnt.n, 0) AS n
      |  FROM (SELECT DISTINCT week FROM cnt) w
      |  CROSS JOIN (SELECT DISTINCT event_type FROM cnt) t
      |  LEFT JOIN cnt USING (week, event_type)),
      |bp AS (SELECT week, event_type,
      |    (n * 10000) // SUM(n) OVER (PARTITION BY week) AS share_bp
      |  FROM dense),
      |d AS (SELECT week, event_type, share_bp,
      |    LAG(share_bp) OVER (PARTITION BY event_type ORDER BY week)
      |      AS prev_bp
      |  FROM bp)
      |SELECT week, CAST(SUM(ABS(share_bp - prev_bp)) AS BIGINT)
      |    AS l1_drift_bp,
      |  CAST(COUNT(*) AS BIGINT) AS n_types
      |FROM d WHERE prev_bp IS NOT NULL
      |GROUP BY week ORDER BY week""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val cnt = Tables.load(spark, dir, "events")
      .select(date_trunc("week", $"ts".cast("date")).cast("date")
        .as("week"), $"event_type")
      .groupBy($"week", $"event_type")
      .agg(count(lit(1)).as("n"))
    val dense = cnt.select($"week").distinct()
      .crossJoin(cnt.select($"event_type").distinct())
      .join(cnt, Seq("week", "event_type"), "left")
      .withColumn("n", coalesce($"n", lit(0L)))
    val wWeek = org.apache.spark.sql.expressions.Window
      .partitionBy($"week")
    val wType = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"week")
    dense
      .withColumn("t", sum($"n").over(wWeek))
      .withColumn("share_bp", expr("(n * 10000) DIV t"))
      .withColumn("prev_bp", lag($"share_bp", 1).over(wType))
      .filter($"prev_bp".isNotNull)
      .groupBy($"week")
      .agg(sum(abs($"share_bp" - $"prev_bp")).as("l1_drift_bp"),
        count(lit(1)).as("n_types"))
      .orderBy($"week")
  }

  val all: Seq[Q] = Seq(q182_semdedup, q183_keep_best, q184_keyset_page,
    q185_existence_join, q186_nucleus_vocab, q187_markov_transitions,
    q188_share_drift)
}
