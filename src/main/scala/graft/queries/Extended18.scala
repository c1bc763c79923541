package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{Association, Profile, Robust}

/** Round-7 tranche IV: the label-aggregation / self-calibrating-gate /
  * drift layer — majority-vote consensus over noisy raters (the reduce
  * that turns crowd labels into training labels), per-rater
  * reliability against that consensus, a robust median/MAD outlier
  * gate on document statistics (the C4/Gopher-style length filter,
  * self-calibrated instead of hand-tuned), and vocabulary drift
  * between a corpus snapshot and a new batch (the retrain-the-
  * tokenizer alarm).
  *
  * Reference anchor: the curriculum's dedup/cleaning and composition
  * homework (`2-data-modeling`, `3-spark-fundamentals`); the
  * consensus, robust-gate, and drift layers are the training-data
  * extensions on top.
  */
object Extended18 {

  /** The three-rater long form shared by q264/q265: the annotation,
    * the marker-lexicon guesser (ABSTAINS on short docs — exercises
    * the null-doesn't-vote path), and the stopword-score threshold.
    */
  private val RatersSql =
    s"""SELECT doc_id, 'r1' AS rater,
      |    CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS cat
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'r2', CASE WHEN (${OracleSql.guessedSql}) = 'en'
      |    THEN 'en' ELSE 'other' END FROM documents
      |  WHERE ${OracleSql.NtSql} >= 12
      |  UNION ALL
      |  SELECT doc_id, 'r3', CASE WHEN ${OracleSql.ScoreSql} >= 1500 THEN 'en'
      |    ELSE 'other' END FROM documents""".stripMargin

  private val ConsensusSql =
    s"""WITH r AS ($RatersSql),
      |c AS (SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM r GROUP BY 1, 2),
      |w AS (SELECT doc_id, cat, cnt,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY cnt DESC, cat) AS rn,
      |    COALESCE(LEAD(cnt) OVER (PARTITION BY doc_id
      |      ORDER BY cnt DESC, cat), 0) AS runner,
      |    CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS total
      |  FROM c)""".stripMargin

  private def ratedDf(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Tables.loadParallel(spark, dir, "documents")
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
  }

  /** Majority-vote label consensus ([[Association.majorityVote]])
    * over the q257 rater panel: per document, the category with the
    * most non-null votes wins (ties to the lexicographically smaller
    * category), with the winner's count, the panel size, and the
    * victory margin. The abstaining rater (r2 on short docs) drops
    * panels to 2 and makes 1–1 ties real. Fully distributed — one
    * (doc, cat) count aggregate + one doc-keyed window; category
    * cardinality never reaches the driver.
    */
  val q264_majority_vote: Q = Q(
    "q264_majority_vote",
    s"""$ConsensusSql
      |SELECT doc_id, cat AS consensus, cnt AS n_votes,
      |  total AS n_ratings, CAST(cnt - runner AS BIGINT) AS margin
      |FROM w WHERE rn = 1 ORDER BY doc_id""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    Association.majorityVote(ratedDf(spark, dir), "doc_id",
        Seq("r1", "r2", "r3"))
      .orderBy($"doc_id")
  }

  /** Per-rater reliability against the majority consensus
    * ([[Association.raterReliability]]): "which labeler should I
    * re-brief?" — ratings counted, agreements with the consensus,
    * agreement basis points. The consensus table joins back
    * item-keyed; raters unpivot in-row (no per-rater corpus pass).
    */
  val q265_rater_reliability: Q = Q(
    "q265_rater_reliability",
    s"""$ConsensusSql,
      |cons AS (SELECT doc_id, cat AS consensus FROM w WHERE rn = 1),
      |j AS (SELECT r.rater, r.cat, c.consensus
      |  FROM ($RatersSql) r JOIN cons c USING (doc_id)),
      |a AS (SELECT rater, CAST(COUNT(*) AS BIGINT) AS n_rated,
      |    CAST(SUM(CASE WHEN cat = consensus THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_agree
      |  FROM j GROUP BY 1)
      |SELECT rater, n_rated, n_agree,
      |  (10000 * n_agree) // n_rated AS agree_bp
      |FROM a ORDER BY rater""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Association.raterReliability(ratedDf(spark, dir), "doc_id",
        Seq("r1", "r2", "r3"))
      .orderBy($"rater")
  }

  /** Robust outlier gate ([[Robust.madGate]]) on per-document token
    * counts, k = 3 MADs: every document flagged against the exact
    * corpus median and MAD, both shipped in the doubled-integer form
    * (med2 = 2·median, mad4 = 4·MAD, dev2 = 2·|v − median|; flag iff
    * 2·dev2 > 3·mad4) — zero floating point, zero division. Both
    * median selections run through [[graft.operators.PrefixSum]]'s
    * two-phase scan over the value-count table, so the corpus never
    * funnels into a partition-less window.
    */
  val q266_robust_outlier_gate: Q = Q(
    "q266_robust_outlier_gate",
    s"""WITH d AS (SELECT doc_id, CAST(${OracleSql.NtSql} AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT n_tokens AS v, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM d GROUP BY 1),
      |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
      |p AS (SELECT v, c,
      |    CAST(SUM(c) OVER (ORDER BY v) - c AS BIGINT) AS cum FROM c),
      |m AS (SELECT CAST(
      |    SUM(CASE WHEN cum <= (n - 1) // 2 AND (n - 1) // 2 < cum + c
      |      THEN v ELSE 0 END)
      |    + SUM(CASE WHEN cum <= n // 2 AND n // 2 < cum + c
      |      THEN v ELSE 0 END) AS BIGINT) AS med2 FROM p, n),
      |dv AS (SELECT abs(2 * v - med2) AS v, c FROM c, m),
      |dc AS (SELECT v, CAST(SUM(c) AS BIGINT) AS c FROM dv
      |  GROUP BY 1),
      |dp AS (SELECT v, c,
      |    CAST(SUM(c) OVER (ORDER BY v) - c AS BIGINT) AS cum FROM dc),
      |mm AS (SELECT CAST(
      |    SUM(CASE WHEN cum <= (n - 1) // 2 AND (n - 1) // 2 < cum + c
      |      THEN v ELSE 0 END)
      |    + SUM(CASE WHEN cum <= n // 2 AND n // 2 < cum + c
      |      THEN v ELSE 0 END) AS BIGINT) AS mad4 FROM dp, n)
      |SELECT d.doc_id, d.n_tokens, m.med2, mm.mad4,
      |  abs(2 * d.n_tokens - m.med2) AS dev2,
      |  CAST(CASE WHEN 2 * abs(2 * d.n_tokens - m.med2) > 3 * mm.mad4
      |    THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
      |FROM d, m, mm ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Robust.madGate(
        Tables.loadParallel(spark, dir, "documents")
          .select($"doc_id",
            TextFunctions.tokenCount($"text").cast("long")
              .as("n_tokens")),
        "n_tokens", kNum = 3L)
      .orderBy($"doc_id")
  }

  /** Vocabulary drift ([[Profile.vocabDrift]]) between the even-id
    * snapshot and the odd-id batch: type gains/losses, the new
    * batch's out-of-vocabulary token mass, and the exact total
    * variation distance between the two unigram distributions —
    * integer rationals throughout (decimal(38,0) internally; oracle:
    * HUGEINT), floored once at basis-point precision.
    */
  val q267_vocab_drift: Q = Q(
    "q267_vocab_drift",
    """WITH o AS (SELECT unnest(string_split_regex(lower(text),
      |    '\s+')) AS w FROM documents WHERE doc_id % 2 = 0),
      |nw AS (SELECT unnest(string_split_regex(lower(text),
      |    '\s+')) AS w FROM documents WHERE doc_id % 2 = 1),
      |a1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM o
      |  GROUP BY 1),
      |a2 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c2 FROM nw
      |  GROUP BY 1),
      |j AS (SELECT COALESCE(c1, 0) AS c1, COALESCE(c2, 0) AS c2
      |  FROM a1 FULL JOIN a2 USING (w)),
      |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
      |    CAST(SUM(c2) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS t1,
      |    CAST(SUM(CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS t2,
      |    CAST(SUM(CASE WHEN c1 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS newt,
      |    CAST(SUM(CASE WHEN c2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS lost,
      |    CAST(SUM(CASE WHEN c1 = 0 THEN c2 ELSE 0 END) AS BIGINT)
      |      AS oov
      |  FROM j),
      |s AS (SELECT CAST(SUM(abs(CAST(c1 AS HUGEINT) * n2
      |    - CAST(c2 AS HUGEINT) * n1)) AS HUGEINT) AS sd FROM j, t)
      |SELECT n1 AS n_old, n2 AS n_new, t1 AS types_old,
      |  t2 AS types_new, newt AS new_types, lost AS lost_types,
      |  CASE WHEN n2 = 0 THEN 0 ELSE (10000 * oov) // n2 END
      |    AS oov_bp,
      |  CASE WHEN n1 = 0 OR n2 = 0 THEN 0 ELSE
      |    CAST((10000 * sd) // (2 * CAST(n1 AS HUGEINT) * n2)
      |    AS BIGINT) END AS tvd_bp
      |FROM t, s""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    Profile.vocabDrift(
      docs.filter($"doc_id" % 2 === 0),
      docs.filter($"doc_id" % 2 === 1),
      $"text")
  }

  val all: Seq[Q] = Seq(q264_majority_vote, q265_rater_reliability,
    q266_robust_outlier_gate, q267_vocab_drift)
}
