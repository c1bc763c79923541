package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{ClusterEval, Profile}

/** Round-9 tranche XIII: corpus-statistics + cluster-validity layer —
  * the distribution-shape numbers a curation run reports alongside the
  * concentration/vocab dashboards (q196/q259/q260/q280): Zipf
  * rank–frequency fit and octave table, per-source n-gram diversity,
  * and an internal cluster-quality (silhouette) audit over the
  * embedding table. All exact-integer outputs (floor-log₂ bit lengths,
  * basis points, guarded integer DIV) — the cross-engine determinism
  * discipline of COVERAGE.md's bottom section.
  *
  * Reference anchor: the curriculum's aggregation labs
  * (`3-spark-fundamentals` composition GROUP BYs) and vector homework;
  * the fits/audits are the training-data extension.
  */
object Extended27 {

  // shared rank CTEs: token counts ranked by (count desc, token asc).
  // The ORACLE may use ROW_NUMBER freely; the ENGINE ranks through
  // PrefixSum's two-phase scan (plan-pinned window-free).
  private val RankCtes =
    """w AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
      |  FROM documents),
      |wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM w
      |  GROUP BY 1),
      |r AS (SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk
      |  FROM wc)""".stripMargin

  /** Zipf's-law fit ([[Profile.zipfFit]]): integer OLS of
    * ⌊log₂ count⌋ on ⌊log₂ rank⌋ over the token vocabulary — slope in
    * milli (≈ −1000 for natural text) and r² in basis points, plus
    * the raw sums. Every "log" is a binary bit length
    * (`length(bin(x)) − 1`), every division a sign-guarded integer
    * DIV — both engines replay the fit bit-identically.
    */
  val q292_zipf_fit: Q = Q(
    "q292_zipf_fit",
    s"""WITH $RankCtes,
      |p AS (SELECT CAST(length(bin(rk)) - 1 AS BIGINT) AS x,
      |    CAST(length(bin(c)) - 1 AS BIGINT) AS y, c FROM r),
      |a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(c) AS BIGINT) AS nt,
      |    CAST(SUM(x) AS HUGEINT) AS sx,
      |    CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy FROM p),
      |f AS (SELECT n, nt, sx, sy, sxy, sxx,
      |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
      |    n * syy - sy * sy AS svy FROM a)
      |SELECT CAST(n AS BIGINT) AS n_types, nt AS n_tokens,
      |  CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
      |  CAST(sxy AS BIGINT) AS sxy, CAST(sxx AS BIGINT) AS sxx,
      |  CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
      |    WHEN num >= 0 THEN CAST((1000 * num) // den AS BIGINT)
      |    ELSE -CAST((1000 * (0 - num)) // den AS BIGINT)
      |    END AS slope_milli,
      |  CASE WHEN den = 0 OR svy = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST((((10000 * abs(num)) // den) * abs(num)) // svy
      |      AS BIGINT) END AS r2_bp
      |FROM f""".stripMargin) { (spark, dir) =>
    Profile.zipfFit(
      Tables.loadParallel(spark, dir, "documents"), col("text"))
  }

  /** Rank–frequency table by rank OCTAVE
    * ([[Profile.rankFreqOctaves]]): per ⌊log₂ rank⌋ bucket the type
    * count, token mass, min/max frequency and mass share — under Zipf
    * the mass-per-octave is roughly flat; a bulging head says
    * template spam, a fat tail says OCR noise/random ids.
    */
  val q293_rank_freq_octaves: Q = Q(
    "q293_rank_freq_octaves",
    s"""WITH $RankCtes,
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM wc),
      |o AS (SELECT CAST(length(bin(rk)) - 1 AS BIGINT) AS octave,
      |    CAST(COUNT(*) AS BIGINT) AS n_types,
      |    CAST(SUM(c) AS BIGINT) AS mass,
      |    CAST(MIN(c) AS BIGINT) AS min_c,
      |    CAST(MAX(c) AS BIGINT) AS max_c
      |  FROM r GROUP BY 1)
      |SELECT octave, n_types, mass, min_c, max_c,
      |  CASE WHEN tot = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST((10000 * mass) // tot AS BIGINT) END AS mass_bp
      |FROM o, tot ORDER BY octave""".stripMargin) { (spark, dir) =>
    Profile.rankFreqOctaves(
      Tables.loadParallel(spark, dir, "documents"), col("text"))
  }

  /** Cluster-validity audit ([[ClusterEval.silhouette]]): simplified
    * silhouette per label over the int8-quantized embedding table —
    * a = squared L2 to the own-label floor-mean centroid, b = min to
    * any other label's, silhouette = 10⁴·(b−a)/max(a,b). The oracle
    * replays quantization, centroids and distances in the same exact
    * integer space, so the full geometry is hash-checked.
    */
  val q294_cluster_quality: Q = Q(
    "q294_cluster_quality",
    s"""WITH ${OracleSql.CentroidCtes},
      |ab0 AS (SELECT vec_id, label,
      |    MAX(CASE WHEN clabel = label THEN d2 END) AS a,
      |    MIN(CASE WHEN clabel <> label THEN d2 END) AS b0
      |  FROM pd GROUP BY 1, 2),
      |ab AS (SELECT vec_id, label, a, COALESCE(b0, a) AS b FROM ab0),
      |s AS (SELECT label, a, b,
      |    CASE WHEN GREATEST(a, b) = 0 THEN CAST(0 AS BIGINT)
      |      WHEN b >= a THEN (10000 * (b - a)) // GREATEST(a, b)
      |      ELSE -((10000 * (a - b)) // GREATEST(a, b))
      |      END AS sil_bp
      |  FROM ab)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(a) AS BIGINT) AS a_sum,
      |  CAST(SUM(b) AS BIGINT) AS b_sum,
      |  CAST(SUM(CASE WHEN b > a THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_well,
      |  CASE WHEN SUM(sil_bp) >= 0
      |    THEN CAST(SUM(sil_bp) AS BIGINT) // COUNT(*)
      |    ELSE -(CAST(0 - SUM(sil_bp) AS BIGINT) // COUNT(*))
      |    END AS mean_sil_bp
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    ClusterEval.silhouette(
      emb.select($"vec_id", $"label",
        ClusterEval.int8Codes($"embedding").as("codes")),
      "vec_id", "label", "codes")
  }

  /** Per-source n-gram diversity (the self-BLEU-style distinctness
    * monitor): for n ∈ {1,2,3}, distinct-gram share of the gram mass
    * and hapax share of the distinct grams, in exact basis points —
    * low distinct share flags template/generated spam long before a
    * dedup pass pays for pair candidates. Same tagged-generator shape
    * as q290 (one explode, keyed aggregates, map-side combinable) but
    * keyed by source, not doc.
    */
  val q295_ngram_diversity: Q = Q(
    "q295_ngram_diversity",
    """WITH t AS (SELECT source,
      |    string_split_regex(lower(text), '\s+') AS tk FROM documents),
      |nn AS (SELECT unnest([1, 2, 3]) AS n),
      |gi AS (SELECT source, n, tk,
      |    unnest(range(1, greatest(len(tk) - n + 1, 0) + 1)) AS i
      |  FROM t CROSS JOIN nn),
      |g AS (SELECT source, CAST(n AS BIGINT) AS n,
      |    array_to_string(tk[i:i+n-1], ' ') AS gram FROM gi),
      |c AS (SELECT source, n, gram, COUNT(*) AS c FROM g
      |  GROUP BY 1, 2, 3)
      |SELECT source, n,
      |  CAST(SUM(c) AS BIGINT) AS total_grams,
      |  CAST(COUNT(*) AS BIGINT) AS distinct_grams,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hapax_grams,
      |  (10000 * CAST(COUNT(*) AS BIGINT))
      |    // CAST(SUM(c) AS BIGINT) AS distinct_bp,
      |  (10000 * CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS hapax_bp
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.positionalShingles
    val docs = Tables.loadParallel(spark, dir, "documents")
    val grams = docs.select($"source",
        explode(concat(
          transform(positionalShingles($"text", 1),
            x => struct(lit(1L).as("n"), x.as("gram"))),
          transform(positionalShingles($"text", 2),
            x => struct(lit(2L).as("n"), x.as("gram"))),
          transform(positionalShingles($"text", 3),
            x => struct(lit(3L).as("n"), x.as("gram"))))).as("x"))
      .select($"source", $"x.n".as("n"), $"x.gram".as("gram"))
    grams.groupBy($"source", $"n", $"gram")
      .agg(count(lit(1)).as("c"))
      .groupBy($"source", $"n")
      .agg(sum($"c").as("total_grams"),
        count(lit(1)).as("distinct_grams"),
        sum(when($"c" === 1, 1L).otherwise(0L)).as("hapax_grams"))
      .selectExpr("source", "n", "total_grams", "distinct_grams",
        "hapax_grams",
        "(10000 * distinct_grams) DIV total_grams AS distinct_bp",
        "(10000 * hapax_grams) DIV distinct_grams AS hapax_bp")
      .orderBy($"source", $"n")
  }

  /** Per-source divergence from the REST of the corpus
    * ([[Profile.sourceDivergence]]): unique-type count/mass share and
    * the exact one-vs-rest total-variation distance in basis points —
    * "which crawl is distributionally alien?". The missing-word TVD
    * mass folds algebraically (n_s·(n_r − Σ_{w∈s}c_r)), so neither
    * engine materializes the source × vocab cross product.
    */
  val q296_source_divergence: Q = Q(
    "q296_source_divergence",
    """WITH sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cs
      |  FROM (SELECT source,
      |      unnest(string_split_regex(lower(text), '\s+')) AS w
      |    FROM documents) t GROUP BY 1, 2),
      |wt AS (SELECT w, CAST(SUM(cs) AS BIGINT) AS ct,
      |    CAST(COUNT(*) AS BIGINT) AS nsrc FROM sw GROUP BY 1),
      |st AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns,
      |    CAST(COUNT(*) AS BIGINT) AS ntypes FROM sw GROUP BY 1),
      |tt AS (SELECT CAST(SUM(cs) AS BIGINT) AS nn FROM sw),
      |a AS (SELECT source, MIN(ns) AS ns, MIN(ntypes) AS ntypes,
      |    MIN(nn) AS nn,
      |    CAST(SUM(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ut,
      |    CAST(SUM(CASE WHEN nsrc = 1 THEN cs ELSE 0 END) AS BIGINT)
      |      AS um,
      |    CAST(SUM(CAST(ct - cs AS HUGEINT)) AS HUGEINT) AS scr,
      |    CAST(SUM(abs(CAST(cs AS HUGEINT) * (nn - ns)
      |      - CAST(ct - cs AS HUGEINT) * ns)) AS HUGEINT) AS sabs
      |  FROM sw JOIN wt USING (w) JOIN st USING (source)
      |  CROSS JOIN tt GROUP BY 1)
      |SELECT source, ns AS n_tokens, ntypes AS n_types,
      |  ut AS uniq_types, um AS uniq_mass,
      |  CASE WHEN ns = 0 THEN CAST(0 AS BIGINT)
      |    ELSE (10000 * um) // ns END AS uniq_mass_bp,
      |  CASE WHEN ns = 0 OR nn - ns = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST((10000 * (sabs + CAST(ns AS HUGEINT)
      |        * ((nn - ns) - scr)))
      |      // (2 * CAST(ns AS HUGEINT) * (nn - ns)) AS BIGINT)
      |    END AS tvd_bp
      |FROM a ORDER BY source""".stripMargin) { (spark, dir) =>
    Profile.sourceDivergence(
      Tables.loadParallel(spark, dir, "documents"), "source",
      col("text"))
  }

  /** Nearest-centroid confusion matrix
    * ([[ClusterEval.nearestCentroidConfusion]]): each embedding
    * assigned to its closest label centroid (exact int-code squared
    * L2, ties to the smaller label), counted by (true label,
    * assigned) — the classifier-free label-noise detector naming
    * WHICH labels bleed into which.
    */
  val q297_centroid_confusion: Q = Q(
    "q297_centroid_confusion",
    s"""WITH ${OracleSql.CentroidCtes},
      |asg AS (SELECT vec_id, label, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY d2, clabel) AS rn FROM pd)
      |SELECT label, clabel AS assigned,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM asg WHERE rn = 1 GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    ClusterEval.nearestCentroidConfusion(
      emb.select($"vec_id", $"label",
        ClusterEval.int8Codes($"embedding").as("codes")),
      "vec_id", "label", "codes")
  }

  /** Tokenizer fertility per source: BPE-ish tokens per whitespace
    * token and characters per BPE token, in exact milli — the "how
    * expensive is this source to tokenize" budget number (code/CJK
    * sources run hot; prose sits near 1.2). Pure keyed aggregates of
    * two codegen'd counters over one corpus pass.
    */
  val q298_tokenizer_fertility: Q = Q(
    "q298_tokenizer_fertility",
    """SELECT source,
      |  CAST(SUM(len(string_split_regex(lower(text), '\s+')))
      |    AS BIGINT) AS ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(text,
      |    '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CASE WHEN CAST(SUM(len(string_split_regex(lower(text),
      |      '\s+'))) AS BIGINT) = 0 THEN CAST(0 AS BIGINT)
      |    ELSE (1000 * CAST(SUM(len(regexp_extract_all(text,
      |        '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT))
      |      // CAST(SUM(len(string_split_regex(lower(text), '\s+')))
      |        AS BIGINT) END AS fertility_milli,
      |  CASE WHEN CAST(SUM(len(regexp_extract_all(text,
      |      '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) = 0
      |    THEN CAST(0 AS BIGINT)
      |    ELSE (1000 * CAST(SUM(n_chars) AS BIGINT))
      |      // CAST(SUM(len(regexp_extract_all(text,
      |        '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
      |    END AS chars_per_tok_milli
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.{bpeTokenCount, lowerTokens}
    Tables.loadParallel(spark, dir, "documents")
      .groupBy($"source")
      .agg(sum(size(lowerTokens($"text")).cast("long")).as("ws_tokens"),
        sum(bpeTokenCount($"text").cast("long")).as("bpe_tokens"),
        sum($"n_chars").as("sum_chars"))
      .selectExpr("source", "ws_tokens", "bpe_tokens", "sum_chars",
        """CASE WHEN ws_tokens = 0 THEN CAST(0 AS BIGINT)
          |  ELSE (1000 * bpe_tokens) DIV ws_tokens
          |  END AS fertility_milli""".stripMargin,
        """CASE WHEN bpe_tokens = 0 THEN CAST(0 AS BIGINT)
          |  ELSE (1000 * sum_chars) DIV bpe_tokens
          |  END AS chars_per_tok_milli""".stripMargin)
      .orderBy($"source")
  }

  val all: Seq[Q] = Seq(q292_zipf_fit, q293_rank_freq_octaves,
    q294_cluster_quality, q295_ngram_diversity,
    q296_source_divergence, q297_centroid_confusion,
    q298_tokenizer_fertility)
}
