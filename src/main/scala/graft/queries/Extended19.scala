package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{Bm25, LangModel, Winnow}

/** Round-7 tranche V: the retrieval / targeted-selection layer —
  * exact-integer BM25 top-k (lexical corpus slicing), DSIR-style
  * importance contrast between a target and a source language model
  * (Xie et al. 2023, rebuilt in the backoff LM's exact surprise
  * bits), and winnowing fingerprints (Schleimer et al. 2003 / MOSS)
  * with shared-fingerprint pair counts for overlap detection.
  *
  * Reference anchor: the curriculum's ranked top-N homework
  * (`3-spark-fundamentals`); the retrieval/selection operators are
  * the training-data extensions on top.
  */
object Extended19 {

  /** BM25 top-10 per query ([[Bm25.topK]]): queries = the distinct
    * token sets of docs 0–4, scored over the whole corpus. IDF in
    * clamped floor-bits, saturation cleared to the exact rational
    * 22·tf·T / (10·T·tf + 3·T + 9·dl·D), each term floored ONCE at
    * milli precision then summed (quantize-then-sum) — pure BIGINT,
    * ties broken (score desc, doc). The query-term and
    * query-restricted df tables broadcast; scoring is map-side to
    * the (qid, doc) combine; top-k is a per-qid WindowGroupLimit.
    */
  val q268_bm25_topk: Q = Q(
    "q268_bm25_topk",
    """WITH tok AS (SELECT doc_id AS doc,
      |    string_split_regex(lower(text), '\s+') AS t FROM documents),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
      |    CAST(SUM(len(t)) AS BIGINT) AS tt FROM tok),
      |p AS (SELECT doc, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS w
      |  FROM tok),
      |po AS (SELECT doc, dl, w, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM p GROUP BY 1, 2, 3),
      |dft AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM po
      |  GROUP BY 1),
      |q AS (SELECT DISTINCT doc AS qid, w FROM p WHERE doc < 5),
      |sc AS (SELECT q.qid, po.doc,
      |    GREATEST((length(bin(2 * st.nd - 2 * dft.df + 1)) - 1)
      |      - (length(bin(2 * dft.df + 1)) - 1), 0) AS ib,
      |    po.tf, po.dl, st.tt, st.nd
      |  FROM q JOIN po USING (w) JOIN dft USING (w) CROSS JOIN st),
      |t AS (SELECT qid, doc,
      |    CAST(SUM((1000 * ib * 22 * CAST(tf AS HUGEINT) * tt)
      |      // (10 * CAST(tt AS HUGEINT) * tf + 3 * tt + 9 * dl * nd))
      |      AS BIGINT) AS score_milli,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms
      |  FROM sc GROUP BY 1, 2),
      |r AS (SELECT qid, doc, score_milli, n_terms,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY score_milli DESC, doc) AS BIGINT) AS rnk FROM t)
      |SELECT qid, doc, score_milli, n_terms, rnk FROM r
      |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    val queries = docs.filter($"doc_id" < 5)
      .select($"doc_id".as("qid"),
        explode(TextFunctions.lowerTokens($"text")).as("w"))
      .distinct()
    Bm25.topK(docs, "doc_id", $"text", queries, 10)
      .orderBy($"qid", $"rnk")
  }

  /** DSIR-style importance selection ([[LangModel.contrastBits]]):
    * target backoff LM trained on the `lang = 'en'` slice, source LM
    * on the whole corpus (both pruned uni 24 / bi 512 — the q240
    * cuts, so pruning BINDS at every SF), every document scored under
    * BOTH models in one transition pass (all four pruned tables
    * broadcast), importance `w_bits = s_bits − t_bits` exact integer.
    * Top-100 most target-like documents (w_bits desc, doc_id).
    */
  val q269_dsir_select: Q = Q(
    "q269_dsir_select",
    s"""WITH ${OracleSql.lmCtes("t", "WHERE lang = 'en'")},
      |${OracleSql.lmCtes("s", "")},
      |dtr AS (SELECT doc_id, lang, unnest(t[:-2]) AS w1,
      |    unnest(t[2:]) AS w2
      |  FROM (SELECT doc_id, lang,
      |        string_split_regex(lower(text), '\\s+') AS t
      |        FROM documents) x WHERE len(t) >= 2),
      |${OracleSql.contrastScores("doc_id, lang")},
      |doc AS (SELECT doc_id, lang,
      |    CAST(SUM(bt) AS BIGINT) AS t_bits,
      |    CAST(SUM(bs) AS BIGINT) AS s_bits,
      |    CAST(COUNT(*) AS BIGINT) AS d_n
      |  FROM sc GROUP BY 1, 2)
      |SELECT doc_id, lang, t_bits, s_bits, d_n,
      |  s_bits - t_bits AS w_bits
      |FROM doc ORDER BY w_bits DESC, doc_id LIMIT 100""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"lang", $"text")
    // target/source trained from ONE corpus read per stage (fused
    // conditional aggregation — LangModel.trainBigramPair; identical
    // tables to the two-pass composition, LangModelPairSpec)
    val (target, source) = LangModel.trainBigramPair(
      docs, $"lang" === "en", $"text", biK = 512, uniK = 24)
    LangModel.contrastBits(docs, Seq("doc_id", "lang"), $"text",
        target, source)
      .orderBy($"w_bits".desc, $"doc_id")
      .limit(100)
  }

  /** Winnowing overlap detection ([[Winnow]]): 5-gram hashes, window
    * w = 4 (any shared run of ≥ 8 tokens guarantees a shared
    * fingerprint), per-window (hash, pos) argmin via the fixed-width
    * string key, stop-gram cap maxDf = 20, top-30 document pairs by
    * shared-fingerprint count. Text never shuffles — the index moves
    * (doc, pos, 60-bit long) rows only.
    */
  val q270_winnow_overlap: Q = Q(
    "q270_winnow_overlap",
    s"""WITH ${OracleSql.winnowPairCtes}
      |SELECT a, b, shared FROM pairs
      |ORDER BY shared DESC, a, b LIMIT 30""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val fps = Winnow.fingerprints(
      Tables.loadParallel(spark, dir, "documents"),
      "doc_id", "text", k = 5, w = 4)
    Winnow.sharedFingerprints(fps, maxDf = 20)
      .orderBy($"shared".desc, $"a", $"b")
      .limit(30)
  }

  val all: Seq[Q] = Seq(q268_bm25_topk, q269_dsir_select,
    q270_winnow_overlap)
}
