package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.operators.{ClusterEval, Coreset, Sampling}

/** Round-9 tranches XV+XVI: cluster-separation index, diversity
  * coreset, exact stratified k-fold split, and Chao1 vocabulary
  * richness — the embedding-curation closers after q294/q297 plus
  * two split/diversity primitives, all in the exact-integer
  * discipline (every comparison an integer both engines replay
  * identically).
  *
  * Reference anchor: the curriculum's vector/similarity labs
  * (`3-spark-fundamentals`) and its train/test splitting
  * (`assignment_3_spark.py`); the audits are the training-data
  * extension.
  */
object Extended28 {

  private def dD(a: String, b: String): String =
    s"CAST(list_reduce(list_transform(range(1, 65), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), " +
      "(u, v) -> u + v) AS BIGINT)"

  /** Davies–Bouldin separation audit ([[ClusterEval.daviesBouldin]]):
    * per label the worst `1000·(ā_i + ā_j)/d_ij` over other labels —
    * one exact floor per pair, merged centroids pinned to the 10⁹
    * sentinel, ties to the smaller other-label. Lower = better
    * separated; `worst_label` names the confuser.
    */
  val q299_davies_bouldin: Q = Q(
    "q299_davies_bouldin",
    s"""WITH ${OracleSql.CentroidCtes},
      |st AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(d2) AS BIGINT) AS a_sum
      |  FROM pd WHERE clabel = label GROUP BY 1),
      |pr AS (SELECT x.label AS li, y.label AS lj,
      |    ${dD("x.cent", "y.cent")} AS dij
      |  FROM cent x, cent y WHERE x.label <> y.label),
      |r AS (SELECT li, lj,
      |    CASE WHEN dij = 0 THEN CAST(1000000000 AS BIGINT)
      |      ELSE CAST((1000 * (CAST(a1.a_sum AS HUGEINT) * a2.n
      |          + CAST(a2.a_sum AS HUGEINT) * a1.n))
      |        // (CAST(a1.n AS HUGEINT) * a2.n * dij) AS BIGINT)
      |      END AS r_milli
      |  FROM pr JOIN st a1 ON a1.label = pr.li
      |  JOIN st a2 ON a2.label = pr.lj),
      |w AS (SELECT li, lj, r_milli, ROW_NUMBER() OVER (
      |    PARTITION BY li ORDER BY r_milli DESC, lj) AS rn FROM r)
      |SELECT li AS label, st.n, st.a_sum, lj AS worst_label,
      |  r_milli AS db_milli
      |FROM w JOIN st ON st.label = w.li WHERE rn = 1
      |ORDER BY label""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    ClusterEval.daviesBouldin(
      emb.select($"vec_id", $"label",
        ClusterEval.int8Codes($"embedding").as("codes")),
      "vec_id", "label", "codes")
  }

  /** Greedy k-center coreset ([[Coreset.kCenterGreedy]], k = 6): the
    * 6 maximally-spread exemplars of the embedding table with their
    * selection-time distances (the non-increasing radius sequence).
    * The oracle unrolls the 6 greedy rounds declaratively (the q261
    * discipline), so every argmax — including id tie-breaks and the
    * LEAST-chained min-distance updates — is hash-checked.
    */
  val q300_kcenter_coreset: Q = {
    val steps = (2 to 6).map { i =>
      s"""s$i AS (SELECT vec_id, codes, md FROM d${i - 1}
         |  ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin +
        (if (i < 6)
          s""",
             |d$i AS (SELECT d.vec_id, d.codes,
             |    LEAST(d.md, ${dD("d.codes", "s.codes")}) AS md
             |  FROM d${i - 1} d, s$i s
             |  WHERE d.vec_id <> s.vec_id)""".stripMargin
        else "")
    }.mkString(",\n")
    Q("q300_kcenter_coreset",
      s"""WITH ${OracleSql.CentroidCtes},
        |s1 AS (SELECT vec_id, codes FROM c ORDER BY vec_id LIMIT 1),
        |d1 AS (SELECT d.vec_id, d.codes,
        |    ${dD("d.codes", "s.codes")} AS md
        |  FROM c d, s1 s WHERE d.vec_id <> s.vec_id),
        |$steps
        |SELECT CAST(1 AS INT) AS step, vec_id,
        |  CAST(0 AS BIGINT) AS sel_d2 FROM s1
        |UNION ALL SELECT 2, vec_id, md FROM s2
        |UNION ALL SELECT 3, vec_id, md FROM s3
        |UNION ALL SELECT 4, vec_id, md FROM s4
        |UNION ALL SELECT 5, vec_id, md FROM s5
        |UNION ALL SELECT 6, vec_id, md FROM s6
        |ORDER BY step""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val emb = Tables.loadParallel(spark, dir, "embeddings")
      Coreset.kCenterGreedy(
        emb.select($"vec_id",
          ClusterEval.int8Codes($"embedding").as("codes")),
        "vec_id", "codes", k = 6)
        .orderBy($"step")
    }
  }

  /** Exact stratified 5-fold split ([[Sampling.stratifiedFolds]],
    * strata = lang): per (lang, fold) the doc count, id checksum and
    * min id — fold sizes within a stratum provably differ by ≤ 1
    * (exact balance, not `hash mod k`'s expected balance), membership
    * frozen by the (md5(id), id) order. The oracle states the same
    * split with a per-stratum window; the ENGINE's local ranks come
    * from the global two-phase scan minus broadcast stratum bases, so
    * a billion-row stratum never funnels through one window task.
    */
  val q301_stratified_folds: Q = Q(
    "q301_stratified_folds",
    """WITH d AS (SELECT doc_id, lang,
      |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (
      |    PARTITION BY lang ORDER BY h, doc_id) - 1 AS lr FROM d)
      |SELECT lang, CAST(lr % 5 AS BIGINT) AS fold,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
      |  CAST(MIN(doc_id) AS BIGINT) AS min_id
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    Sampling.stratifiedFolds(
        Tables.loadParallel(spark, dir, "documents")
          .select($"doc_id", $"lang"),
        "doc_id", "lang", k = 5)
      .groupBy($"lang", $"fold")
      .agg(count(lit(1)).as("n_docs"),
        sum($"doc_id").as("id_checksum"),
        min($"doc_id").as("min_id"))
      .orderBy($"lang", $"fold")
  }

  /** Chao1 vocabulary-richness estimate per source (the
    * species-richness lower bound, bias-corrected form): observed
    * types t plus f₁(f₁−1)/(2(f₂+1)) from the singleton/doubleton
    * counts — "how much vocabulary has this source NOT shown yet?",
    * the diversity complement of q280's growth curve. Exact milli
    * (one guarded integer DIV); defined even with zero doubletons.
    */
  val q302_chao1_richness: Q = Q(
    "q302_chao1_richness",
    """WITH wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT source,
      |      unnest(string_split_regex(lower(text), '\s+')) AS w
      |    FROM documents) t GROUP BY 1, 2)
      |SELECT source,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
      |  CAST(1000 * COUNT(*)
      |    + (1000 * CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
      |        AS BIGINT)
      |      * (CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |        - 1))
      |    // (2 * (CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
      |        AS BIGINT) + 1)) AS BIGINT) AS chao1_milli
      |FROM wc GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.lowerTokens
    Tables.loadParallel(spark, dir, "documents")
      .select($"source", explode(lowerTokens($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when($"c" === 1, 1L).otherwise(0L)).as("f1"),
        sum(when($"c" === 2, 1L).otherwise(0L)).as("f2"))
      .selectExpr("source", "n_tokens", "n_types", "f1", "f2",
        """CAST(1000 * n_types
          |  + (1000 * f1 * (f1 - 1)) DIV (2 * (f2 + 1))
          |  AS BIGINT) AS chao1_milli""".stripMargin)
      .orderBy($"source")
  }

  /** Image near-dup detection by perceptual hash
    * ([[graft.operators.Multimodal.dHash60]] +
    * [[graft.operators.Dedup.hashNearDupPairs]]): each document
    * carries a deterministic synthetic 6×11 grayscale grid (pixel =
    * pure integer function of (doc_id, position) with ~1-cell sparse
    * noise, so same-class images are near- but not exact-duplicates),
    * hashed to a 60-bit gradient dHash and joined by the 4×15-band
    * pigeonhole; verified pairs (Hamming ≤ 3) aggregate to a
    * per-distance census. The WHOLE pipeline — downsample, gradient
    * bits, banding, popcount verify — is exact integer arithmetic the
    * oracle replays bit-identically; a real decode feeds the same
    * grid from ImageIO pixels (spec-proven — codecs can't run in
    * SQL).
    */
  val q303_image_neardup: Q = Q(
    "q303_image_neardup",
    """WITH g AS (SELECT doc_id, list_transform(range(0, 66), p ->
      |    ((doc_id % 512) * 37 + (p // 11) * 11 + (p % 11) * 7
      |      + (doc_id % 512) * (p // 11) * (p % 11)
      |      + CASE WHEN (doc_id * 7919 + p) % 97 = 0
      |        THEN 50 ELSE 0 END) % 256) AS gr
      |  FROM documents),
      |s AS (SELECT doc_id AS id, list_reduce(list_transform(
      |    range(0, 60), i ->
      |    CASE WHEN gr[(i // 10) * 11 + (i % 10) + 2]
      |        > gr[(i // 10) * 11 + (i % 10) + 1]
      |      THEN (1::BIGINT << i) ELSE 0::BIGINT END),
      |    (a, b) -> a | b) AS sig FROM g),
      |bd AS (SELECT id, sig, b, (sig >> (b * 15)) & 32767 AS bv
      |  FROM s, (SELECT unnest(range(0, 4)) AS b) bb),
      |cand AS (SELECT DISTINCT a.id AS id_a, x.id AS id_b,
      |    bit_count(xor(a.sig, x.sig)) AS dist
      |  FROM bd a JOIN bd x ON a.b = x.b AND a.bv = x.bv
      |    AND a.id < x.id)
      |SELECT CAST(dist AS INT) AS dist,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(id_a + id_b) AS BIGINT) AS ids_checksum
      |FROM cand WHERE dist <= 3 GROUP BY 1 ORDER BY 1""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    val cl = pmod($"doc_id", lit(512L))
    val gray = transform(sequence(lit(0), lit(65)), p => {
      val r = floor(p / 11).cast("long")
      val c = (p % 11).cast("long")
      pmod(cl * 37L + r * 11L + c * 7L + cl * r * c
        + when(pmod($"doc_id" * 7919L + p, lit(97L)) === 0, 50L)
          .otherwise(0L),
        lit(256L))
    })
    // Let-bind the 66-cell grid: dHash60's 60 gradient lambdas would
    // otherwise re-inline (and re-evaluate) the whole grid per bit —
    // the documented HOF trap Let exists for. Checkpoint the (id,
    // 60-bit sig) longs: both band-join sides read them, and 16
    // bytes/row is cheap at any corpus size.
    val sigs = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id".as("id"),
        graft.functions.Let(gray)(g => Multimodal.dHash60(g))
          .as("sig"))
      .transform(Barrier(_))
    Dedup.hashNearDupPairs(sigs, maxDist = 3, bands = 4)
      .groupBy($"dist")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"id_a" + $"id_b").as("ids_checksum"))
      .orderBy($"dist")
  }

  val all: Seq[Q] = Seq(q299_davies_bouldin, q300_kcenter_coreset,
    q301_stratified_folds, q302_chao1_richness, q303_image_neardup)
}
