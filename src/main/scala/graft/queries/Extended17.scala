package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.operators.{Association, Mmr, NaiveBayes, Profile}

/** Round-7 tranche II: the classify / agree / compose layer a
  * curation pipeline runs between scoring and shipping — a trained
  * multinomial Naive Bayes router (integer surprise bits, the
  * [[graft.operators.LangModel]] discipline), Krippendorff's α
  * (agreement under MISSING ratings, where Fleiss' κ stops),
  * McNemar's paired filter comparison, corpus-composition profiling
  * (vocabulary health; source concentration via exact Gini / HHI /
  * floor-bit entropy), and MMR diversified re-ranking.
  *
  * Reference anchor: the curriculum's composition GROUP BYs and
  * ranked top-N homework (`3-spark-fundamentals`); the trained
  * classifier, agreement-under-missingness, and diversity layers are
  * the training-data extensions on top.
  */
object Extended17 {

  /** Multinomial Naive Bayes language router
    * ([[NaiveBayes]]): train on even doc_ids, predict the odd ones.
    * Every Laplace log-probability is a difference of exact
    * ⌊log₂·⌋ values (binary length − 1 — zero transcendentals), so
    * per-class document scores are order-free BIGINT sums and the
    * argmin prediction is bit-identical across engines. The top-64
    * vocabulary cut BINDS at every SF (the q240 rule), so the
    * out-of-vocabulary drop and unseen-in-class penalty paths really
    * execute. Scale: the dense |V|·C bits table broadcasts; scoring
    * is map-side to one (doc, class) combine + the argmin window.
    */
  val q256_naive_bayes: Q = Q(
    "q256_naive_bayes",
    """WITH tr AS (SELECT doc_id, lang, text FROM documents
      |  WHERE doc_id % 2 = 0),
      |te AS (SELECT doc_id, lang, text FROM documents
      |  WHERE doc_id % 2 = 1),
      |tok AS (SELECT lang AS label,
      |    unnest(string_split_regex(lower(text), '\s+')) AS w FROM tr),
      |wc0 AS (SELECT w, label, CAST(COUNT(*) AS BIGINT) AS cwc
      |  FROM tok GROUP BY 1, 2),
      |vocab AS (SELECT w FROM (SELECT w, SUM(cwc) AS tc FROM wc0
      |    GROUP BY 1) t0 ORDER BY tc DESC, w LIMIT 64),
      |wc AS (SELECT wc0.w, wc0.label, wc0.cwc FROM wc0
      |  JOIN vocab USING (w)),
      |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS vr FROM vocab),
      |ndt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM tr),
      |cls AS (SELECT c.label,
      |    (length(bin((SELECT nd FROM ndt))) - 1)
      |      - (length(bin(c.ndc)) - 1) AS prior_bits,
      |    (length(bin(COALESCE(m.ncl, 0) + (SELECT vr FROM k))) - 1)
      |      AS unseen_bits
      |  FROM (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS ndc
      |        FROM tr GROUP BY 1) c
      |  LEFT JOIN (SELECT label, CAST(SUM(cwc) AS BIGINT) AS ncl
      |        FROM wc GROUP BY 1) m USING (label)),
      |bits AS (SELECT v.w, c.label,
      |    c.unseen_bits - (length(bin(COALESCE(wc.cwc, 0) + 1)) - 1)
      |      AS w_bits
      |  FROM vocab v CROSS JOIN cls c
      |  LEFT JOIN wc ON wc.w = v.w AND wc.label = c.label),
      |stok AS (SELECT doc_id, lang,
      |    unnest(string_split_regex(lower(text), '\s+')) AS w FROM te),
      |sb AS (SELECT s.doc_id, b.label,
      |    CAST(SUM(b.w_bits) AS BIGINT) AS tb,
      |    CAST(COUNT(*) AS BIGINT) AS nt
      |  FROM stok s JOIN bits b USING (w) GROUP BY 1, 2),
      |sc AS (SELECT t.doc_id, t.lang, c.label,
      |    c.prior_bits + COALESCE(sb.tb, 0) AS bits,
      |    COALESCE(sb.nt, 0) AS n_tok
      |  FROM te t CROSS JOIN cls c
      |  LEFT JOIN sb ON sb.doc_id = t.doc_id AND sb.label = c.label),
      |rk AS (SELECT doc_id, lang, label, bits, n_tok,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY bits, label) AS rn FROM sc)
      |SELECT doc_id, lang, label AS pred, CAST(bits AS BIGINT) AS bits,
      |  CAST(n_tok AS BIGINT) AS n_tok
      |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"lang", $"text")
    val model = NaiveBayes.train(
      docs.filter($"doc_id" % 2 === 0), "lang", $"text", vocabK = 64)
    NaiveBayes.predict(docs.filter($"doc_id" % 2 === 1),
        Seq("doc_id", "lang"), $"text", model)
      .orderBy($"doc_id")
  }

  /** Krippendorff's α over three language raters where the
    * marker-lexicon rater ABSTAINS on short documents (< 12 tokens) —
    * the missing-ratings regime Fleiss' κ (q253) cannot express:
    * items drop to 2 ratings and every contribution rescales by
    * 1/(m_u−1). [[Association.krippendorffAlpha]] makes that exact by
    * lcm-scaling (L = 2 here); the possibly-negative α ships as its
    * exact integer pair. Fully distributed — keyed aggregates over
    * the (item, category) counts, m_u via a window, no driver state.
    */
  val q257_krippendorff: Q = Q(
    "q257_krippendorff",
    s"""WITH ${OracleSql.LangRatersSql}
      |  WHERE ${OracleSql.NtSql} >= 12
      |  UNION ALL
      |  SELECT doc_id, CASE WHEN ${OracleSql.ScoreSql} >= 1500 THEN 'en'
      |    ELSE 'other' END FROM documents),
      |nuc AS (SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS nuc
      |  FROM r GROUP BY 1, 2),
      |m AS (SELECT doc_id, CAST(SUM(nuc) AS BIGINT) AS m FROM nuc
      |  GROUP BY 1),
      |v AS (SELECT n.doc_id, n.cat, n.nuc, m.m FROM nuc n
      |  JOIN m USING (doc_id) WHERE m.m >= 2),
      |o AS (SELECT
      |    CAST(COALESCE(SUM(CAST(nuc AS HUGEINT) * (m - nuc)
      |      * (2 // (m - 1))), 0) AS HUGEINT) AS o_l,
      |    CAST(COALESCE(SUM(nuc), 0) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_items FROM v),
      |s AS (SELECT CAST(COALESCE(SUM(CAST(nc AS HUGEINT) * nc), 0)
      |    AS HUGEINT) AS s
      |  FROM (SELECT cat, SUM(nuc) AS nc FROM v GROUP BY 1))
      |SELECT n_items, n AS n_ratings,
      |  CASE WHEN n <= 1 THEN 0 ELSE
      |    CAST((10000 * o_l) // (2 * CAST(n AS HUGEINT)) AS BIGINT)
      |    END AS do_bp,
      |  CASE WHEN n <= 1 THEN 0 ELSE
      |    CAST((10000 * (CAST(n AS HUGEINT) * n - s))
      |      // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
      |    END AS de_bp,
      |  CAST(2 * (CAST(n AS HUGEINT) * n - s) - (n - 1) * o_l
      |    AS BIGINT) AS alpha_num,
      |  CAST(2 * (CAST(n AS HUGEINT) * n - s) AS BIGINT) AS alpha_den
      |FROM o, s""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions
    val rated = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"lang",
        TextFunctions.languageId($"text").as("gid"),
        TextFunctions.tokenCount($"text").cast("long").as("nt"),
        TextFunctions.stopwordCount($"text").cast("long").as("sw"))
      .select($"doc_id",
        when($"lang" === "en", "en").otherwise("other").as("r1"),
        when($"nt" < 12, null).otherwise(
          when($"gid" === "en", "en").otherwise("other")).as("r2"),
        when(expr("(10000 * sw) div nt") >= 1500, "en")
          .otherwise("other").as("r3"))
    Association.krippendorffAlpha(rated, "doc_id",
      Seq("r1", "r2", "r3"))
  }

  /** McNemar's paired test: did swapping the marker-lexicon language
    * filter for the stopword-threshold filter change which documents
    * pass, beyond symmetric noise? Both judged against the annotation
    * on the same rows; only the discordant counts b/c carry signal
    * ([[Association.mcnemar]]). One corpus aggregate; both χ²
    * variants exact non-negative milli-units.
    */
  val q258_mcnemar: Q = Q(
    "q258_mcnemar",
    s"""WITH s AS (SELECT
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t,
      |    CASE WHEN (${OracleSql.guessedSql}) = 'en' THEN 1 ELSE 0
      |      END AS a,
      |    CASE WHEN ${OracleSql.ScoreSql} >= 1500 THEN 1 ELSE 0 END AS b
      |  FROM documents),
      |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN a = t AND b = t THEN 1 ELSE 0 END)
      |      AS BIGINT) AS both_right,
      |    CAST(SUM(CASE WHEN a <> t AND b <> t THEN 1 ELSE 0 END)
      |      AS BIGINT) AS both_wrong,
      |    CAST(SUM(CASE WHEN a = t AND b <> t THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN a <> t AND b = t THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c
      |  FROM s)
      |SELECT n, both_right, both_wrong, b, c,
      |  CASE WHEN b + c = 0 THEN 0 ELSE
      |    (1000 * (b - c) * (b - c)) // (b + c) END AS chi2_milli,
      |  CASE WHEN b + c = 0 OR abs(b - c) <= 1 THEN 0 ELSE
      |    (1000 * (abs(b - c) - 1) * (abs(b - c) - 1)) // (b + c)
      |    END AS chi2_cc_milli
      |FROM agg""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions
    Association.mcnemar(
      Tables.loadParallel(spark, dir, "documents")
        .select($"lang",
          TextFunctions.languageId($"text").as("gid"),
          TextFunctions.stopwordCount($"text").cast("long").as("sw"),
          TextFunctions.tokenCount($"text").cast("long").as("nt"))
        .select(
          ($"lang" === "en").cast("long").as("t"),
          ($"gid" === "en").cast("long").as("a"),
          (expr("(10000 * sw) div nt") >= 1500).cast("long").as("b")),
      "t", "a", "b")
  }

  /** Vocabulary health of the corpus token stream
    * ([[Profile.vocabStats]]): type-token ratio, hapax share, top-100
    * mass — the "is this corpus degenerate?" numbers (template spam
    * shows as low TTR + high top-k mass; OCR noise as hapax
    * explosion). One tokenize + keyed count; deterministic top-k cut.
    */
  val q259_vocab_stats: Q = Q(
    "q259_vocab_stats",
    """WITH w AS (SELECT unnest(string_split_regex(lower(text),
      |    '\s+')) AS w FROM documents),
      |wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM w
      |  GROUP BY 1),
      |top AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS topc
      |  FROM (SELECT c FROM wc ORDER BY c DESC, w LIMIT 100) t0),
      |a AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS t,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h
      |  FROM wc)
      |SELECT n AS n_tokens, t AS n_types, h AS hapax,
      |  CASE WHEN n = 0 THEN 0 ELSE (10000 * t) // n END AS ttr_bp,
      |  CASE WHEN t = 0 THEN 0 ELSE (10000 * h) // t END
      |    AS hapax_share_bp,
      |  CASE WHEN n = 0 THEN 0 ELSE (10000 * topc) // n END
      |    AS topk_mass_bp
      |FROM a, top""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Profile.vocabStats(
      Tables.loadParallel(spark, dir, "documents"), $"text", 100)
  }

  /** Source-concentration audit ([[Profile.concentration]]): exact
    * HHI, Gini over group sizes, and floor-bit entropy of the source
    * distribution — "is the corpus balanced or is one crawl eating
    * it?". The Gini rank scan runs through [[
    * graft.operators.PrefixSum]]'s two-phase scan, so a million-
    * domain key never funnels into a partition-less window.
    */
  val q260_source_concentration: Q = Q(
    "q260_source_concentration",
    """WITH g AS (SELECT source AS k, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1),
      |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c, k) AS i FROM g),
      |a AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS ng,
      |    CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS c2,
      |    CAST(SUM(CAST(i AS HUGEINT) * c) AS HUGEINT) AS ric,
      |    CAST(SUM(CAST(c AS HUGEINT) * (length(bin(c)) - 1))
      |      AS HUGEINT) AS cf
      |  FROM r)
      |SELECT n AS n_rows, ng AS n_groups,
      |  CASE WHEN n = 0 THEN 0 ELSE
      |    CAST((100000000 * c2) // (CAST(n AS HUGEINT) * n) AS BIGINT)
      |    END AS hhi_e8,
      |  CAST(2 * ric - (ng + 1) * CAST(n AS HUGEINT) AS BIGINT)
      |    AS gini_num,
      |  CAST(ng * CAST(n AS HUGEINT) AS BIGINT) AS gini_den,
      |  CASE WHEN ng * n = 0 THEN 0 ELSE
      |    CAST((10000 * (2 * ric - (ng + 1) * CAST(n AS HUGEINT)))
      |      // (ng * CAST(n AS HUGEINT)) AS BIGINT) END AS gini_bp,
      |  CASE WHEN n = 0 THEN 0 ELSE
      |    CAST((1000 * (CAST(n AS HUGEINT) * (length(bin(n)) - 1)
      |      - cf)) // n AS BIGINT) END AS h_bits_milli
      |FROM a""".stripMargin) { (spark, dir) =>
    Profile.concentration(
      Tables.loadParallel(spark, dir, "documents"), "source")
  }

  /** MMR diversified re-ranking ([[Mmr.diversifyTopK]]) of the int8
    * integer-dot retriever's top-12 (q166's codes — dot products of
    * 0..255 codes are exact non-negative integers, so every greedy
    * comparison is BIGINT arithmetic both engines replay identically):
    * pick 4 of 12 maximizing rel − max-sim-to-selected (λ = 1/2).
    * The greedy loop unrolls into 4 fully-distributed plan steps —
    * candidate-bounded tables keyed on qid throughout, never the
    * corpus.
    */
  val q261_mmr_rerank: Q = {
    def dotCodes(a: String, b: String): String =
      s"""CAST(list_reduce(list_transform(range(1, 65),
         |      i -> $a[i] * $b[i]), (x, y) -> x + y) AS BIGINT)"""
        .stripMargin
    // unrolled greedy: pK = argmax(score) of rK-1; rK = update max_sim
    val steps = (2 to 4).map { i =>
      s"""p$i AS (SELECT qid, cid, score FROM (
         |  SELECT qid, cid, rel - max_sim AS score,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY rel - max_sim DESC, cid) AS rn
         |  FROM r${i - 1}) t$i WHERE rn = 1)""".stripMargin +
        (if (i < 4)
          s""",
             |r$i AS (SELECT r.qid, r.cid, r.rel,
             |    GREATEST(r.max_sim, COALESCE(s.sim, 0)) AS max_sim
             |  FROM r${i - 1} r
             |  JOIN p$i p ON p.qid = r.qid AND p.cid <> r.cid
             |  LEFT JOIN sims s ON s.qid = r.qid AND s.a = r.cid
             |    AND s.b = p.cid)""".stripMargin
        else "")
    }.mkString(",\n")
    Q("q261_mmr_rerank",
      s"""WITH ${OracleSql.quantCodesCtes("r0")},
        |qc AS (SELECT vec_id AS qid, codes AS qcodes FROM c
        |  WHERE vec_id < 6),
        |sc AS (SELECT qc.qid, c.vec_id AS cid, c.codes,
        |    ${dotCodes("c.codes", "qc.qcodes")} AS rel
        |  FROM c, qc WHERE c.vec_id <> qc.qid),
        |cand AS (SELECT qid, cid, codes, rel FROM (
        |  SELECT qid, cid, codes, rel, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY rel DESC, cid) AS rn FROM sc) t0
        |  WHERE rn <= 12),
        |sims AS (SELECT a.qid, a.cid AS a, b.cid AS b,
        |    ${dotCodes("a.codes", "b.codes")} AS sim
        |  FROM cand a JOIN cand b ON a.qid = b.qid
        |    AND a.cid <> b.cid),
        |p1 AS (SELECT qid, cid, rel AS score FROM (
        |  SELECT qid, cid, rel, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY rel DESC, cid) AS rn FROM cand) t1 WHERE rn = 1),
        |r1 AS (SELECT r.qid, r.cid, r.rel,
        |    GREATEST(CAST(0 AS BIGINT), COALESCE(s.sim, 0)) AS max_sim
        |  FROM cand r
        |  JOIN p1 p ON p.qid = r.qid AND p.cid <> r.cid
        |  LEFT JOIN sims s ON s.qid = r.qid AND s.a = r.cid
        |    AND s.b = p.cid),
        |$steps
        |SELECT qid, CAST(1 AS INT) AS step, cid,
        |    CAST(score AS BIGINT) AS mmr_score FROM p1
        |UNION ALL SELECT qid, 2, cid, CAST(score AS BIGINT) FROM p2
        |UNION ALL SELECT qid, 3, cid, CAST(score AS BIGINT) FROM p3
        |UNION ALL SELECT qid, 4, cid, CAST(score AS BIGINT) FROM p4
        |ORDER BY qid, step""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.functions.Let
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.loadParallel(spark, dir, "embeddings")
      def codes(e: org.apache.spark.sql.Column) =
        Let(array_min(e).cast("double"),
            array_max(e).cast("double")) { (mn, mx) =>
          when(mx > mn, transform(e, v =>
            least(floor((v.cast("double") - mn) * 255 / (mx - mn))
              .cast("long"), lit(255L))))
            .otherwise(transform(e, _ => lit(0L)))
        }
      val c = emb.select($"vec_id", codes($"embedding").as("codes"))
        .transform(Barrier(_)) // corpus codes + the query slice read it
      val qc = c.filter($"vec_id" < 6)
        .select($"vec_id".as("qid"), $"codes".as("qcodes"))
      def dot(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0L),
          (acc, x) => acc + x)
      val w = Window.partitionBy($"qid").orderBy($"rel".desc, $"cid")
      val cand = c.crossJoin(broadcast(qc))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id".as("cid"), $"codes",
          dot($"codes", $"qcodes").as("rel"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 12)
        .select($"qid", $"cid", $"codes", $"rel")
        .transform(Barrier(_)) // the pair self-join reads it twice
      val sims = cand.select($"qid", $"cid".as("a"),
          $"codes".as("_ca"))
        .join(cand.select($"qid", $"cid".as("b"), $"codes".as("_cb")),
          "qid")
        .filter($"a" =!= $"b")
        .select($"qid", $"a", $"b", dot($"_ca", $"_cb").as("sim"))
      Mmr.diversifyTopK(cand.select($"qid", $"cid", $"rel"), sims, 4)
        .orderBy($"qid", $"step")
    }
  }

  /** Exact duplicated-span REMOVAL ([[graft.operators.Dedup
    * .removeDupSpans]], ExactSubstr-style — Lee et al. 2021): q216
    * MEASURES shared spans, this one cuts them out — every token
    * covered by an 8-gram that already occurred earlier in corpus
    * order (canonical = lexicographic min (doc, pos) of the span
    * hash) is dropped and the doc re-joined from survivors. The
    * first copy of boilerplate survives; later copies lose exactly
    * the repeated tokens, within-doc repeats included. Scale: spans
    * hash to longs in the scan; text shuffles in NO exchange (the
    * canonical agg, mark join, and mark collect move (hash, doc,
    * int) rows only).
    */
  val q262_dup_span_removal: Q = Q(
    "q262_dup_span_removal",
    s"""WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\\s+') AS tk FROM documents),
      |g0 AS (SELECT doc_id, tk,
      |    unnest(range(1, greatest(len(tk) - 7, 0) + 1)) AS i FROM t),
      |occ AS (SELECT doc_id, i AS pos,
      |    ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))
      |      ::BIGINT AS hv FROM g0),
      |md AS (SELECT hv, MIN(doc_id) AS md FROM occ GROUP BY 1),
      |mp AS (SELECT o.hv, MIN(o.pos) AS mp FROM occ o
      |  JOIN md ON md.hv = o.hv AND o.doc_id = md.md GROUP BY 1),
      |can AS (SELECT md.hv, md.md, mp.mp FROM md JOIN mp USING (hv)),
      |marks AS (SELECT o.doc_id, o.pos FROM occ o JOIN can c USING (hv)
      |  WHERE NOT (o.doc_id = c.md AND o.pos = c.mp)),
      |mpos AS (SELECT DISTINCT m.doc_id, m.pos + o.o AS i
      |  FROM marks m CROSS JOIN (SELECT unnest(range(0, 8)) AS o) o),
      |${OracleSql.StripKeepCtes}
      |SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
      |  CAST(len(t.tk) AS BIGINT) AS n_tokens,
      |  CAST(len(t.tk) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
      |FROM t LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    graft.operators.Dedup.removeDupSpans(
      Tables.loadParallel(spark, dir, "documents"),
      "doc_id", "text", 8)
      .orderBy($"doc_id")
  }

  /** PMI collocations ([[Profile.pmiTopK]]): the bigrams glued
    * together far beyond chance — boilerplate discovery / tokenizer-
    * merge candidates. PMI ships in the overflow-immune floor-bit sum
    * form ⌊log₂c₁₂⌋+⌊log₂N⌋−⌊log₂c₁⌋−⌊log₂c₂⌋ (exact integers,
    * possibly negative, never divided) alongside the raw counts. One
    * transition pass, three keyed aggregates, deterministic
    * (pmi_bits, c12, w1, w2) cut.
    */
  val q263_pmi_collocations: Q = Q(
    "q263_pmi_collocations",
    """WITH tok AS (SELECT string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |tr AS (SELECT unnest(t[:-2]) AS w1, unnest(t[2:]) AS w2
      |  FROM tok WHERE len(t) >= 2),
      |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM tr
      |  GROUP BY 1, 2),
      |nt AS (SELECT CAST(SUM(c12) AS BIGINT) AS n FROM bi),
      |l AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM tr
      |  GROUP BY 1),
      |r AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM tr
      |  GROUP BY 1),
      |p AS (SELECT b.w1, b.w2, b.c12, l.c1, r.c2, nt.n,
      |    CAST((length(bin(b.c12)) - 1) + (length(bin(nt.n)) - 1)
      |      - (length(bin(l.c1)) - 1) - (length(bin(r.c2)) - 1)
      |      AS BIGINT) AS pmi_bits
      |  FROM bi b JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN nt
      |  WHERE b.c12 >= 3)
      |SELECT w1, w2, c12, c1, c2, n, pmi_bits FROM p
      |ORDER BY pmi_bits DESC, c12 DESC, w1, w2
      |LIMIT 30""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Profile.pmiTopK(
      Tables.loadParallel(spark, dir, "documents"), $"text", 3L, 30)
  }

  val all: Seq[Q] = Seq(q256_naive_bayes, q257_krippendorff,
    q258_mcnemar, q259_vocab_stats, q260_source_concentration,
    q261_mmr_rerank, q262_dup_span_removal, q263_pmi_collocations)
}
