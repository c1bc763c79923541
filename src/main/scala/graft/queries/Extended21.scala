package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, LangModel, Sampling}
import graft.plans.{MultiContainsCounts, SortedIntersectCount}

/** Round-8 tranche VII: the curation tuning layer — blocklist
  * attribution (which terms fire, how often — per-pattern occurrence
  * counts from one automaton walk), DoReMi-style mixture weights
  * (per-source DSIR importance apportioned to exact ppm), and the
  * dedup threshold sweep (removal rate vs Jaccard cut — the knob a
  * pipeline owner actually turns).
  *
  * Reference anchor: the curriculum's dedup/quality homework; these
  * are the training-data control extensions on top.
  */
object Extended21 {

  /** Blocklist attribution ([[graft.plans.MultiContainsCounts]]):
    * per-pattern OVERLAPPING occurrence counts — element i = number
    * of positions j with substr(text, j, len(p)) = p, the definition
    * the oracle replays with a position scan — for the q271 top-20
    * bigram blocklist, aggregated to (gram, n_docs, n_occ). One
    * automaton walk per document however many patterns ride the plan;
    * the 20-element counts array posexplodes to (pos, n) longs (never
    * text) and the gram labels ride a broadcast literal array.
    */
  val q274_blocklist_attribution: Q = Q(
    "q274_blocklist_attribution",
    s"""WITH ${OracleSql.TopBigramCtes},
      |occ AS (SELECT d.doc_id, p.gram,
      |    CAST(COUNT(*) FILTER (WHERE
      |      substr(lower(d.text), i, len(p.gram)) = p.gram)
      |      AS BIGINT) AS n
      |  FROM documents d
      |  CROSS JOIN top p
      |  CROSS JOIN LATERAL (SELECT unnest(
      |    range(1, len(lower(d.text)) + 1)) AS i) pos
      |  GROUP BY 1, 2)
      |SELECT gram, CAST(COUNT(*) FILTER (WHERE n > 0) AS BIGINT)
      |    AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS n_occ
      |FROM occ GROUP BY gram ORDER BY gram""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    val phrases = docs
      .select(explode(array_distinct(
        TextFunctions.positionalShingles($"text", 2))).as("gram"))
      .groupBy($"gram").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"gram").limit(20)
      .as[(String, Long)].collect().map(_._1).toSeq
    docs
      .select(posexplode(
        MultiContainsCounts(lower($"text"), phrases))
        .as(Seq("_pos", "_n")))
      .groupBy($"_pos")
      .agg(count(when($"_n" > 0, 1)).as("n_docs"),
        sum($"_n").as("n_occ"))
      .select(
        element_at(typedlit(phrases), $"_pos" + 1).as("gram"),
        $"n_docs", $"n_occ")
      .orderBy($"gram")
  }

  /** DoReMi-style mixture weights ([[LangModel.contrastBits]] keyed
    * by source + [[Sampling.allocateLargestRemainder]]): per-source
    * DSIR importance (target = the `lang = 'en'` LM, source = the
    * whole-corpus LM — the q269 models), smoothed mass
    * `max(s_bits − t_bits, 0) + 1` (the +1 keeps the total positive
    * when nothing is target-like, and gives every source a floor),
    * apportioned to EXACT ppm by largest remainder: Σ w_ppm = 10⁶
    * identically, every value an integer both engines agree on.
    */
  val q275_doremi_mix: Q = Q(
    "q275_doremi_mix",
    s"""WITH ${OracleSql.lmCtes("t", "WHERE lang = 'en'")},
      |${OracleSql.lmCtes("s", "")},
      |dtr AS (SELECT source, unnest(t[:-2]) AS w1, unnest(t[2:]) AS w2
      |  FROM (SELECT source,
      |        string_split_regex(lower(text), '\\s+') AS t
      |        FROM documents) x WHERE len(t) >= 2),
      |${OracleSql.contrastScores("source")},
      |agg AS (SELECT source,
      |    CAST(SUM(bt) AS BIGINT) AS t_bits,
      |    CAST(SUM(bs) AS BIGINT) AS s_bits,
      |    CAST(COUNT(*) AS BIGINT) AS n_trans
      |  FROM sc GROUP BY 1),
      |m AS (SELECT source, t_bits, s_bits, n_trans,
      |    GREATEST(s_bits - t_bits, 0) + 1 AS mass FROM agg),
      |tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS tot FROM m),
      |qt AS (SELECT source, t_bits, s_bits, n_trans, mass,
      |    CAST((1000000 * mass) // tot AS BIGINT) AS fl,
      |    CAST((1000000 * mass) % tot AS BIGINT) AS rem
      |  FROM m CROSS JOIN tot),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source)
      |    AS rk FROM qt),
      |ex AS (SELECT CAST(1000000 - SUM(fl) AS BIGINT) AS e FROM qt)
      |SELECT source, t_bits, s_bits, n_trans, mass,
      |  fl + CASE WHEN rk <= (SELECT e FROM ex) THEN 1 ELSE 0 END
      |    AS w_ppm
      |FROM r ORDER BY source""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"lang", $"source", $"text")
    // fused pair training (one corpus read per stage) — see q269
    val (target, source) = LangModel.trainBigramPair(
      docs, $"lang" === "en", $"text", biK = 512, uniK = 24)
    val mass = LangModel.contrastBits(docs, Seq("source"), $"text",
        target, source)
      .select($"source", $"t_bits", $"s_bits", $"d_n".as("n_trans"),
        (greatest($"s_bits" - $"t_bits", lit(0L)) + 1L).as("mass"))
    Sampling.allocateLargestRemainder(mass, Seq("source"), "mass",
        1000000L)
      .withColumnRenamed("n_alloc", "w_ppm")
      .orderBy($"source")
  }

  /** Dedup threshold sweep: exact integer Jaccard (basis points,
    * `10⁴·|∩| div (|A|+|B|−|∩|)` on sorted shingles via the
    * merge-walk [[graft.plans.SortedIntersectCount]]) over the q78
    * LSH candidate pairs, evaluated at five cut levels in ONE pass —
    * per τ: surviving pair count and how many docs the
    * higher-id-drops rule would remove. The tuning artifact a
    * pipeline owner reads before fixing the dedup threshold; the
    * oracle replays signatures → bands → candidates → exact Jaccard.
    * Pairs are candidate-sized (never all-pairs); the 5-row τ table
    * broadcast-joins them.
    */
  val q276_dedup_threshold_sweep: Q = Q(
    "q276_dedup_threshold_sweep",
    s"""WITH s AS (SELECT doc_id,
      |    ${OracleSql.shingles(3)} AS sh FROM documents),
      |${OracleSql.minhashPairs("s", "")},
      |v AS (SELECT id_a, id_b,
      |    CAST(10000 * len(list_intersect(sa.sh, sb.sh))
      |      // (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
      |      AS BIGINT) AS j_bp
      |  FROM cand
      |  JOIN s sa ON cand.id_a = sa.doc_id
      |  JOIN s sb ON cand.id_b = sb.doc_id),
      |taus(tau) AS (VALUES (CAST(5000 AS BIGINT)), (6000), (7000),
      |  (8000), (9000))
      |SELECT t.tau,
      |  CAST(COUNT(v.id_a) AS BIGINT) AS n_pairs,
      |  CAST(COUNT(DISTINCT v.id_b) AS BIGINT) AS n_removed
      |FROM taus t LEFT JOIN v ON v.j_bp >= t.tau
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    val pairs = Dedup.lshCandidatePairs(docs, "text", "doc_id",
      k = 16, bands = 4)
    val sh = docs.select($"doc_id",
        TextFunctions.sortedShingles($"text").as("sh"))
      .filter(size($"sh") > 0)
    val v = pairs
      .join(sh.select($"doc_id".as("id_a"), $"sh".as("_sa")),
        Seq("id_a"))
      .join(sh.select($"doc_id".as("id_b"), $"sh".as("_sb")),
        Seq("id_b"))
      .withColumn("_i", SortedIntersectCount($"_sa", $"_sb")
        .cast("long"))
      .select($"id_a", $"id_b",
        expr("CAST(10000 * _i DIV (size(_sa) + size(_sb) - _i) " +
          "AS BIGINT)").as("j_bp"))
    val taus = Seq(5000L, 6000L, 7000L, 8000L, 9000L).toDF("tau")
    broadcast(taus)
      .join(v, $"j_bp" >= $"tau", "left")
      .groupBy($"tau")
      .agg(count($"id_a").as("n_pairs"),
        count_distinct($"id_b").as("n_removed"))
      .orderBy($"tau")
  }

  val all: Seq[Q] = Seq(q274_blocklist_attribution, q275_doremi_mix,
    q276_dedup_threshold_sweep)
}
