package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.functions.TextFunctions
import graft.operators.{Dedup, Waterfill}
import graft.plans.MultiContainsCount

/** Round-8 tranche VI: the corpus-curation control layer — blocklist
  * scanning (one Aho–Corasick pass instead of N contains scans), soft
  * deduplication (downweight near-dup groups instead of deleting —
  * the 1/cluster-size reweighting), and water-filling token-budget
  * allocation across sources (the proportional-cap step of
  * data-mixture balancing).
  *
  * Reference anchor: the curriculum's dedup/quality homework
  * (`2-fact-data-modeling`, `3-spark-fundamentals`); the curation
  * extensions are the training-data layer on top.
  */
object Extended20 {

  /** Blocklist scan ([[graft.plans.MultiContainsCount]]): the top-20
    * corpus bigrams by document frequency (df desc, gram — the q72
    * boilerplate cut, so the "blocklist" is data-derived and
    * deterministic) matched against every document in ONE byte-level
    * Aho–Corasick automaton walk — O(|text|) per row however many
    * patterns ride in the plan, where the naive form is 20 separate
    * `contains` scans. Raw substring semantics (no token boundaries),
    * exactly the oracle's `contains(text, pat)` cross join. The
    * pattern list is a bounded O(1) driver collect (20 rows), the
    * learning-loop discipline.
    */
  val q271_blocklist_scan: Q = Q(
    "q271_blocklist_scan",
    s"""WITH ${OracleSql.TopBigramCtes},
      |hits AS (SELECT d.doc_id,
      |    CAST(SUM(CASE WHEN contains(lower(d.text), p.gram)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      |  FROM documents d CROSS JOIN top p GROUP BY 1)
      |SELECT doc_id, n_hits, n_hits > 0 AS blocked
      |FROM hits ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    // bounded driver collect: exactly 20 phrases, the learning-loop
    // O(1)-per-round discipline
    val phrases = docs
      .select(explode(array_distinct(
        TextFunctions.positionalShingles($"text", 2))).as("gram"))
      .groupBy($"gram").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"gram").limit(20)
      .as[(String, Long)].collect().map(_._1).toSeq
    docs
      .select($"doc_id",
        MultiContainsCount(lower($"text"), phrases).as("n_hits"))
      .withColumn("blocked", $"n_hits" > 0)
      .orderBy($"doc_id")
  }

  /** Soft deduplication ([[Dedup.simhashComponents]] → 1/|group|
    * weights): instead of DELETING near-duplicates (q88's groups),
    * every document keeps a training weight `weight_ppm = 10⁶ div
    * |its near-dup group|` — the soft-dedup reweighting that preserves
    * content while removing duplication bias. Docs outside any group
    * weigh 10⁶ (singleton). The oracle closes the doc-level simhash
    * pairs with a recursive-CTE fixpoint, so the signature-space
    * factoring is hash-checked end-to-end.
    *
    * Scale shape: the pair space (band join + Hamming verify + CC)
    * lives on DISTINCT SIGNATURES only; the corpus moves as (doc,
    * long) rows — the component table carries every doc already, so
    * no rejoin against the document spine exists, and the size join
    * shuffles 16-byte rows keyed by component. The former shape
    * (pair-based CC broadcast over the spine) inverted at high dup
    * rates: the groups table it broadcast GROWS with duplication,
    * which is exactly when you dedup.
    */
  val q272_soft_dedup_weights: Q = Q(
    "q272_soft_dedup_weights",
    s"""WITH RECURSIVE ${OracleSql.SimhashPairs},
      |${OracleSql.components("pairs", "")},
      |sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_members
      |  FROM cc GROUP BY 1)
      |SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS comp,
      |  COALESCE(sz.n_members, 1) AS n_members,
      |  CAST(1000000 // COALESCE(sz.n_members, 1) AS BIGINT)
      |    AS weight_ppm
      |FROM documents d
      |LEFT JOIN cc ON d.doc_id = cc.id
      |LEFT JOIN sz ON COALESCE(cc.comp, d.doc_id) = sz.comp
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    // every doc (singletons included) arrives labeled — no spine rejoin
    val cc = Dedup.simhashComponents(docs, "text", "doc_id")
      .select($"id".as("doc_id"), $"comp")
      .transform(Barrier(_)) // sizes + output both read it
    val sizes = cc.groupBy($"comp").agg(count(lit(1)).as("n_members"))
    cc.join(sizes, Seq("comp"))
      .withColumn("weight_ppm",
        expr("CAST(1000000 DIV n_members AS BIGINT)"))
      .select($"doc_id", $"comp", $"n_members", $"weight_ppm")
      .orderBy($"doc_id")
  }

  /** Water-filling token-budget allocation ([[Waterfill.allocate]]):
    * per-source whitespace token totals, budget = 60 % of the corpus
    * (exact integer 3·total div 5), one shared integer water level —
    * small sources keep everything, oversized sources clip to the
    * cap. Rank and prefix sum run PrefixSum's two-phase scan (never a
    * partition-less window), so the group table streams at any
    * cardinality.
    */
  val q273_waterfill_budget: Q = Q(
    "q273_waterfill_budget",
    """WITH t AS (SELECT source,
      |    CAST(SUM(len(string_split_regex(lower(text), '\s+')))
      |      AS BIGINT) AS toks
      |  FROM documents GROUP BY 1),
      |b AS (SELECT CAST(3 * SUM(toks) // 5 AS BIGINT) AS budget,
      |    COUNT(*) AS n FROM t),
      |o AS (SELECT source, toks,
      |    ROW_NUMBER() OVER (ORDER BY toks, source) AS rn,
      |    COALESCE(SUM(toks) OVER (ORDER BY toks, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS pre
      |  FROM t),
      |ck AS (SELECT o.*, b.n,
      |    CAST(GREATEST(b.budget - o.pre, 0) // (b.n - o.rn + 1)
      |      AS BIGINT) AS c
      |  FROM o CROSS JOIN b),
      |cap AS (SELECT COALESCE(
      |    (SELECT c FROM ck WHERE c < toks ORDER BY rn LIMIT 1),
      |    (SELECT MAX(toks) FROM t)) AS cap)
      |SELECT source, toks, cap.cap AS cap,
      |  LEAST(toks, cap.cap) AS alloc
      |FROM t CROSS JOIN cap ORDER BY source""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val totals = Tables.loadParallel(spark, dir, "documents")
      .groupBy($"source")
      .agg(sum(size(TextFunctions.lowerTokens($"text")).cast("long"))
        .as("toks"))
      .transform(Barrier(_)) // budget agg + the waterfill scan both read it
    val total = totals.agg(coalesce(sum($"toks"), lit(0L)))
      .as[Long].head()
    Waterfill.allocate(totals, "source", "toks", 3 * total / 5)
      .orderBy($"source")
  }

  val all: Seq[Q] = Seq(q271_blocklist_scan, q272_soft_dedup_weights,
    q273_waterfill_budget)
}
