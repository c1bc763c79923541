package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.operators.Similarity

/** Round-8 additions: per-document repetition quality rules (the
  * Gopher-style gates a pretraining corpus filter applies), a BPE
  * pair-statistics pass (the inner loop of tokenizer induction), and
  * contrastive hard-negative mining over the embedding table.
  */
object Extended9 {
  import org.apache.spark.sql.expressions.Window

  /** Per-document repetition rules, rolled up per source — the
    * Gopher/C4 repetition gates adapted to exact integers: a doc is
    * flagged when its duplicate-word fraction (1 − distinct/total)
    * or its top-word share exceeds a basis-point threshold. Both
    * metrics derive from ONE (doc, token-hash) frequency aggregate.
    *
    * Scale shape: tokens hash to 60-bit longs inside the scan (the
    * fused md5-prefix kernel, q193 discipline), so the corpus-wide
    * shuffle moves (long doc_id, long hv) pairs with map-side
    * combine — text never shuffles. The same hash runs in the oracle,
    * so a collision (≈ n²/2⁶¹ per doc, vanishing at any SF) would
    * change both engines identically: parity holds by construction.
    */
  val q197_repetition_rules: Q = Q(
    "q197_repetition_rules",
    """WITH tok AS (SELECT doc_id, source,
      |    ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv
      |  FROM (SELECT doc_id, source,
      |          unnest(string_split_regex(lower(text), '\s+')) AS w
      |        FROM documents) t),
      |c AS (SELECT doc_id, source, hv, COUNT(*) AS n
      |  FROM tok GROUP BY 1, 2, 3),
      |d AS (SELECT doc_id, source, SUM(n) AS n_toks,
      |    COUNT(*) AS n_distinct, MAX(n) AS top_n
      |  FROM c GROUP BY 1, 2)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_toks - n_distinct) AS BIGINT) AS total_dup_words,
      |  CAST(SUM(CASE WHEN 10000 * (n_toks - n_distinct) // n_toks
      |    >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_dupfrac,
      |  CAST(SUM(CASE WHEN 10000 * top_n // n_toks >= 1500
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_topshare
      |FROM d GROUP BY source ORDER BY source""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.lowerTokens
    val tok = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"source",
        explode_outer(graft.plans.Md5PrefixLongs(lowerTokens($"text")))
          .as("hv"))
      .filter($"hv".isNotNull)
    val d = tok
      .groupBy($"doc_id", $"source", $"hv")
      .agg(count(lit(1)).as("n"))
      .groupBy($"doc_id", $"source")
      .agg(sum($"n").as("n_toks"), count(lit(1)).as("n_distinct"),
        max($"n").as("top_n"))
    d.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks" - $"n_distinct").as("total_dup_words"),
        sum(when(expr("10000 * (n_toks - n_distinct) DIV n_toks")
          >= 5000, 1L).otherwise(0L)).as("n_flag_dupfrac"),
        sum(when(expr("10000 * top_n DIV n_toks") >= 1500, 1L)
          .otherwise(0L)).as("n_flag_topshare"))
      .orderBy($"source")
  }

  /** BPE pair statistics — the inner loop of byte-pair-encoding
    * induction: the corpus-wide frequency of every adjacent character
    * pair inside words, top 20 (count desc, pair asc — the merge the
    * tokenizer would pick next is row 1). The pair arrays are built
    * per row (filter → per-word transform → flatten) so ONE explode
    * feeds one hash aggregate; pairs are 2-char strings with heavy
    * map-side combine (the distinct-pair space is tiny relative to
    * the corpus), so the shuffle is bounded by partitions × |pairs|.
    */
  val q198_bpe_pairs: Q = Q(
    "q198_bpe_pairs",
    """WITH tok AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
      |  FROM documents),
      |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair
      |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM tok) t)
      |SELECT pair, COUNT(*) AS n FROM p
      |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.lowerTokens
    val pairArr = flatten(transform(
      filter(lowerTokens($"text"), w => length(w) >= 2),
      w => transform(sequence(lit(1), length(w) - 1),
        i => w.substr(i, lit(2)))))
    Tables.loadParallel(spark, dir, "documents")
      .select(explode_outer(pairArr).as("pair"))
      .filter($"pair".isNotNull)
      .groupBy($"pair")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(20)
  }

  /** Contrastive hard-negative mining: for each probe vector, the 5
    * highest-cosine candidates with a DIFFERENT label — the negatives
    * that most confuse a classifier, exactly what contrastive training
    * wants. Probes broadcast ([[Similarity.hardNegatives]]); the
    * oracle replays the brute force.
    */
  val q199_hard_negatives: Q = Q(
    "q199_hard_negatives",
    s"""WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe
      |  FROM embeddings WHERE vec_id < 10),
      |scored AS (SELECT qid, vec_id AS cid,
      |    ${OracleSql.cosine("qe", "embedding")}
      |    AS cos
      |  FROM q, embeddings WHERE label != qlabel)
      |${OracleSql.topCosine(5)}""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    val probes = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"label".as("qlabel"),
        $"embedding".as("qvec"))
    val candidates = emb.select($"vec_id".as("cid"),
      $"label".as("clabel"), $"embedding".as("cvec"))
    Similarity.hardNegatives(broadcast(probes), candidates, 5)
      .select($"qid", $"rank".cast("int").as("rank"), $"cid", $"cos")
      .orderBy($"qid", $"rank")
  }

  /** Curriculum binning: quartile difficulty bins per language by
    * document length (`ntile` over the total order (n_chars, doc_id),
    * so bin edges are deterministic), with per-bin size stats — the
    * staging a length-curriculum training schedule reads. One window
    * exchange on `lang`, one hash aggregate; no joins.
    */
  val q200_curriculum_bins: Q = Q(
    "q200_curriculum_bins",
    """WITH b AS (SELECT lang, n_chars,
      |    NTILE(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bin
      |  FROM documents)
      |SELECT lang, CAST(bin AS INT) AS bin, COUNT(*) AS n_docs,
      |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      |  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"lang").orderBy($"n_chars", $"doc_id")
    Tables.loadParallel(spark, dir, "documents")
      .select($"lang", $"n_chars", ntile(4).over(w).as("bin"))
      .groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"lang", $"bin")
  }

  /** Cross-source duplication matrix: for every source pair, how many
    * distinct 5-gram shingles they share — the corpus-provenance
    * heatmap that exposes mirrored / syndicated content BETWEEN
    * sources before any pairwise doc dedup runs.
    *
    * Scale shape: one aggregate groups hashed shingles to their
    * source set (`collect_set` is bounded by the source count, not
    * the corpus), and the pair expansion is in-row combinatorics over
    * that set — there is NO shingle self-join, so a boilerplate
    * shingle in s sources costs C(s,2) rows instead of df² join rows.
    * The oracle keeps the join form; both count each shared shingle
    * once per pair.
    */
  val q201_source_overlap: Q = Q(
    "q201_source_overlap",
    s"""WITH g AS (SELECT DISTINCT source,
      |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS hv
      |  FROM (SELECT source, unnest(${OracleSql.shingles(5)}) AS sh FROM documents) t)
      |SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      |FROM g a JOIN g b ON a.hv = b.hv AND a.source < b.source
      |GROUP BY src_a, src_b
      |ORDER BY n_shared DESC, src_a, src_b LIMIT 25""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.sortedShingles
    val g = Tables.loadParallel(spark, dir, "documents")
      .select($"source",
        explode_outer(
          graft.plans.Md5PrefixLongs(sortedShingles($"text", 5)))
          .as("hv"))
      .filter($"hv".isNotNull)
    // collect_set dedups (source, hv) inside the aggregate — no
    // separate distinct pass; sort_array makes the in-row pair
    // expansion emit each unordered pair exactly once, ascending
    val sets = g.groupBy($"hv")
      .agg(sort_array(collect_set($"source")).as("srcs"))
      .filter(size($"srcs") >= 2)
    sets
      .select(explode_outer(flatten(transform($"srcs", (a, i) =>
        transform(slice($"srcs", i + 2, size($"srcs")),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .filter($"p".isNotNull)
      .select($"p.src_a", $"p.src_b")
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"n_shared".desc, $"src_a", $"src_b")
      .limit(25)
  }

  /** Tokenizer vocabulary coverage: induce the top-20 vocabulary by
    * corpus frequency (count desc, token asc — deterministic), then
    * measure each source's out-of-vocabulary token rate in basis
    * points. The vocab is driver-bounded by construction (LIMIT k)
    * and broadcast back as a left join; the token stream shuffles
    * once into the frequency aggregate and never again.
    */
  val q202_oov_rate: Q = Q(
    "q202_oov_rate",
    """WITH tok AS (SELECT source,
      |    unnest(string_split_regex(lower(text), '\s+')) AS w
      |  FROM documents),
      |v AS (SELECT w FROM (SELECT w, COUNT(*) AS n FROM tok
      |  GROUP BY w ORDER BY n DESC, w LIMIT 20) t)
      |SELECT source, COUNT(*) AS n_toks,
      |  CAST(SUM(CASE WHEN w NOT IN (SELECT w FROM v) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_oov,
      |  10000 * CAST(SUM(CASE WHEN w NOT IN (SELECT w FROM v)
      |    THEN 1 ELSE 0 END) AS BIGINT) // COUNT(*) AS oov_bp
      |FROM tok GROUP BY source ORDER BY source""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.lowerTokens
    val tok = Tables.loadParallel(spark, dir, "documents")
      .select($"source", explode_outer(lowerTokens($"text")).as("w"))
      .filter($"w".isNotNull)
      .transform(Barrier(_)) // vocab induction + coverage rollup both read it
    val vocab = tok.groupBy($"w").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w").limit(20)
      .select($"w", lit(1).as("_inv"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_toks"),
        sum(when($"_inv".isNull, 1L).otherwise(0L)).as("n_oov"))
      .select($"source", $"n_toks", $"n_oov",
        expr("10000 * n_oov DIV n_toks").as("oov_bp"))
      .orderBy($"source")
  }

  /** Collocation extraction: adjacent token pairs that co-occur far
    * above chance — the association ratio `P(ab) / (P(a)·P(b))`
    * (exp-PMI), computed from exact integer counts with ONE double
    * expression at the end, written identically in both engines so
    * the quotient is bit-reproducible (each operand is a single exact
    * count, never an order-dependent float sum). Bigrams stay (wa,
    * wb) pairs end-to-end — no split/re-parse round trip.
    *
    * Scale shape: two token-stream aggregates (bigrams, unigrams)
    * with map-side combine; unigram counts are vocabulary-sized and
    * broadcast back to the bigram relation twice (left word, right
    * word). min-support 5 prunes the tail before the joins.
    */
  val q203_collocations: Q = Q(
    "q203_collocations",
    """WITH toks AS (SELECT string_split_regex(lower(text), '\s+') AS ts
      |  FROM documents),
      |big AS (SELECT ts[i] AS wa, ts[i+1] AS wb
      |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM toks) t),
      |uni AS (SELECT unnest(ts) AS w FROM toks),
      |bc AS (SELECT wa, wb, COUNT(*) AS n_ab FROM big GROUP BY 1, 2),
      |uc AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY 1),
      |t AS (SELECT COUNT(*) AS tt FROM big),
      |u AS (SELECT COUNT(*) AS uu FROM uni)
      |SELECT wa, wb, n_ab,
      |  CAST(n_ab AS DOUBLE) * uu * uu
      |    / (CAST(tt AS DOUBLE) * ua.n * ub.n) AS assoc
      |FROM bc JOIN uc ua ON ua.w = wa JOIN uc ub ON ub.w = wb
      |CROSS JOIN t CROSS JOIN u
      |WHERE n_ab >= 5
      |ORDER BY assoc DESC, wa, wb LIMIT 20""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.lowerTokens
    import graft.functions.Let
    val docs = Tables.loadParallel(spark, dir, "documents")
    // Let-bind the tokenizer so the bigram transform reads it once
    // per row (PLANS.md: withColumn staging does not survive
    // CollapseProject into HOF lambdas)
    // the size guard keeps sequence() ascending on 1-token rows
    // (sequence(1, 0) is a DESCENDING ramp, not empty)
    val bigArr = Let(lowerTokens($"text")) { ts =>
      when(size(ts) >= 2,
        transform(sequence(lit(1), size(ts) - 1),
          i => struct(element_at(ts, i).as("wa"),
            element_at(ts, i + 1).as("wb"))))
        .otherwise(array().cast("array<struct<wa:string,wb:string>>"))
    }
    val big = docs.select(explode_outer(bigArr).as("p"))
      .filter($"p".isNotNull)
      .select($"p.wa", $"p.wb")
      .transform(Barrier(_)) // pair counts AND the bigram total read it
    val uni = docs
      .select(explode_outer(lowerTokens($"text")).as("w"))
      .filter($"w".isNotNull)
      .transform(Barrier(_)) // unigram counts AND the token total read it
    val bc = big.groupBy($"wa", $"wb").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 5)
    val uc = uni.groupBy($"w").agg(count(lit(1)).as("n"))
    val tt = big.agg(count(lit(1)).as("tt"))
    val uu = uni.agg(count(lit(1)).as("uu"))
    // NO broadcast hint on the unigram side: it is VOCABULARY-sized
    // (unbounded at corpus scale) — AQE broadcasts it when it is
    // actually small, and falls back to a hash join when it is not
    bc
      .join(uc.select($"w".as("wa"), $"n".as("na")), "wa")
      .join(uc.select($"w".as("wb"), $"n".as("nb")), "wb")
      .crossJoin(broadcast(tt))
      .crossJoin(broadcast(uu))
      .select($"wa", $"wb", $"n_ab",
        ($"n_ab".cast("double") * $"uu" * $"uu" /
          ($"tt".cast("double") * $"na" * $"nb")).as("assoc"))
      .orderBy($"assoc".desc, $"wa", $"wb")
      .limit(20)
  }

  /** Per-source signature keywords by integer TF·IDF: idf is the
    * log-free `(n_sources·10⁶) DIV source_df` (q159's convention), so
    * every score is an exact long and the per-source top-3 is fully
    * ordered (score desc, token asc). The (source, token) frequency
    * aggregate feeds BOTH the tf side and the source-df side — one
    * corpus-wide shuffle; everything after is vocabulary-sized.
    */
  val q204_tfidf_keywords: Q = Q(
    "q204_tfidf_keywords",
    """WITH tok AS (SELECT source,
      |    unnest(string_split_regex(lower(text), '\s+')) AS w
      |  FROM documents),
      |tf AS (SELECT source, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT w, COUNT(*) AS dfs FROM tf GROUP BY 1),
      |s AS (SELECT COUNT(DISTINCT source) AS ns FROM documents)
      |SELECT source, w, CAST(score AS BIGINT) AS score,
      |  CAST(rk AS INT) AS rk
      |FROM (SELECT source, w, tf * ((ns * 1000000) // dfs) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY tf * ((ns * 1000000) // dfs) DESC, w) AS rk
      |  FROM tf JOIN df USING (w) CROSS JOIN s) t
      |WHERE rk <= 3 ORDER BY source, rk""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.lowerTokens
    val tf = Tables.loadParallel(spark, dir, "documents")
      .select($"source", explode_outer(lowerTokens($"text")).as("w"))
      .filter($"w".isNotNull)
      .groupBy($"source", $"w")
      .agg(count(lit(1)).as("tf"))
      .transform(Barrier(_)) // feeds tf AND the source-df aggregate
    val dfs = tf.groupBy($"w").agg(count(lit(1)).as("dfs"))
    val ns = Tables.load(spark, dir, "documents")
      .select(countDistinct($"source").as("ns"))
    val w = Window.partitionBy($"source")
      .orderBy($"score".desc, $"w")
    // dfs is vocabulary-sized — no forced broadcast (q203 rationale)
    tf.join(dfs, "w")
      .crossJoin(broadcast(ns))
      // DIV, not Column./ (double division) — the idf must stay an
      // exact integer to match the oracle's //
      .select($"source", $"w",
        expr("tf * ((ns * 1000000) DIV dfs)").as("score"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"source", $"w", $"score", $"rk".cast("int").as("rk"))
      .orderBy($"source", $"rk")
  }

  /** Join-skew census: the diagnostic a salting decision reads BEFORE
    * a big join runs — per-key multiplicity of lineitem's orderkey,
    * the top-5 hottest keys, and how many keys exceed 2× the mean
    * multiplicity (integer cross-multiplication, no division). One
    * aggregate over the fact; everything downstream is key-count-sized
    * and broadcast. Companion to q67's salted aggregation and q98's
    * salted join, which are the REMEDY this census indicates.
    */
  val q205_skew_census: Q = Q(
    "q205_skew_census",
    """WITH m AS (SELECT l_orderkey AS k, COUNT(*) AS n
      |  FROM lineitem GROUP BY 1),
      |g AS (SELECT COUNT(*) AS n_keys, SUM(n) AS n_rows,
      |    MAX(n) AS max_mult FROM m),
      |hot AS (SELECT COUNT(*) AS n_hot FROM m, g
      |  WHERE m.n * g.n_keys >= 2 * g.n_rows)
      |SELECT k AS hot_key, CAST(n AS BIGINT) AS mult, n_keys,
      |  CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(max_mult AS BIGINT) AS max_mult, n_hot
      |FROM (SELECT k, n, ROW_NUMBER() OVER (ORDER BY n DESC, k) AS rk
      |      FROM m) t, g, hot
      |WHERE rk <= 5 ORDER BY mult DESC, hot_key""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val m = Tables.load(spark, dir, "lineitem")
      .groupBy($"l_orderkey".as("k"))
      .agg(count(lit(1)).as("n"))
      .transform(Barrier(_)) // stats, hot count, and top-5 all read it
    val g = m.agg(count(lit(1)).as("n_keys"), sum($"n").as("n_rows"),
      max($"n").as("max_mult"))
    val hot = m.crossJoin(broadcast(g))
      .filter($"n" * $"n_keys" >= $"n_rows" * 2)
      .agg(count(lit(1)).as("n_hot"))
    m.orderBy($"n".desc, $"k").limit(5)
      .crossJoin(broadcast(g))
      .crossJoin(broadcast(hot))
      .select($"k".as("hot_key"), $"n".as("mult"), $"n_keys",
        $"n_rows", $"max_mult", $"n_hot")
      .orderBy($"mult".desc, $"hot_key")
  }

  /** q206/q211's last prior click/view `touch` per event, over events
    * `e` in (us, event_id) order.
    */
  private val TouchCtes =
    """e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
      |    event_type, event_id FROM events),
      |t AS (SELECT user_id, us, event_type,
      |    last_value(CASE WHEN event_type IN ('click', 'view')
      |      THEN struct_pack(tus := us, tet := event_type) END
      |      IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS touch
      |  FROM e)""".stripMargin

  /** Last-touch attribution: each purchase credits the most recent
    * click/view by the SAME user within 30 minutes, else 'none' — as
    * ONE user-keyed window pass (`last(..., ignoreNulls)` over the
    * preceding rows carries the candidate touch forward), never a
    * self-join: the classic as-of shape collapsed into the exchange
    * the sessionizer already needs. Timestamps go through
    * `unix_micros` ≡ DuckDB `epoch_ns // 1000` (the ns-truncation
    * pin); (us, event_id) totally orders each user's history.
    */
  val q206_attribution: Q = Q(
    "q206_attribution",
    s"""WITH $TouchCtes
      |SELECT COALESCE(CASE WHEN touch.tus >= us - 1800000000
      |    THEN touch.tet END, 'none') AS attributed,
      |  COUNT(*) AS n_purchases
      |FROM t WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(spark, dir, "events")
      .select($"user_id", unix_micros($"ts").as("us"),
        $"event_type", $"event_id")
      .withColumn("touch",
        last(when($"event_type".isin("click", "view"),
          struct($"us".as("tus"), $"event_type".as("tet"))),
          ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select(coalesce(when($"touch.tus" >= $"us" - 1800000000L,
        $"touch.tet"), lit("none")).as("attributed"))
      .groupBy($"attributed")
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy($"attributed")
  }

  /** Intra-source self-similarity index: Σ C(df_s, 2) over each
    * source's 3-gram shingle frequencies, normalized by C(n_docs, 2)
    * in basis points — the self-BLEU-style redundancy score that
    * ranks sources by internal near-duplication BEFORE any pairwise
    * dedup runs (a high index says "dedup this source first").
    * Complements q193 (per-doc dup spans) and q201 (cross-source
    * overlap): same hashed-shingle stream, a different rollup.
    *
    * Scale shape: one (source, hv) frequency aggregate over 8-byte
    * hashes; the pair count is computed from frequencies in place —
    * C(df,2) per group — so nothing ever materializes pairs.
    */
  val q207_self_similarity: Q = Q(
    "q207_self_similarity",
    """WITH g AS (SELECT source, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS hv
      |  FROM (SELECT source, unnest(list_distinct(list_transform(
      |      range(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 1) + 1),
      |      i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS sh
      |    FROM documents) t),
      |c AS (SELECT source, hv, COUNT(*) AS c FROM g GROUP BY 1, 2),
      |d AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs
      |  FROM documents GROUP BY 1)
      |SELECT source, n_docs,
      |  CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_dup_pairs,
      |  CAST(10000 * SUM(c * (c - 1) // 2)
      |    // (n_docs * (n_docs - 1) // 2) AS BIGINT) AS selfsim_bp
      |FROM c JOIN d USING (source)
      |GROUP BY source, n_docs ORDER BY source""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.sortedShingles
    val docs = Tables.loadParallel(spark, dir, "documents")
    val c = docs
      .select($"source",
        explode_outer(
          graft.plans.Md5PrefixLongs(sortedShingles($"text", 3)))
          .as("hv"))
      .filter($"hv".isNotNull)
      .groupBy($"source", $"hv")
      .agg(count(lit(1)).as("c"))
    val d = docs.groupBy($"source")
      .agg(countDistinct($"doc_id").as("n_docs"))
    c.groupBy($"source")
      .agg(sum(expr("c * (c - 1) DIV 2")).as("n_dup_pairs"))
      .join(broadcast(d), "source")
      .select($"source", $"n_docs", $"n_dup_pairs",
        expr("10000 * n_dup_pairs DIV (n_docs * (n_docs - 1) DIV 2)")
          .as("selfsim_bp"))
      .orderBy($"source")
  }

  /** Hourly rate-spike detection: hours whose event count sits more
    * than 2σ ABOVE the mean, decided by exact integer cross-
    * multiplication — `(n·x − S)² > 4·(n·SS − S²)` with S=Σx, SS=Σx²
    * over hourly counts — so no float mean/stddev ever computes and
    * both engines flag identical hours. (Distinct from q111's IQR
    * fences: this is the z-score monitor an ops alert runs.)
    * Overflow bound: n·x must stay ≪ 2³¹·√n for the square to fit a
    * long — at 10¹⁰ events/hour move the compare to DECIMAL(38,0).
    * One aggregate over events; the moment row broadcasts back.
    */
  val q208_rate_spikes: Q = Q(
    "q208_rate_spikes",
    """WITH h AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS x
      |  FROM events GROUP BY 1),
      |g AS (SELECT COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS ss FROM h)
      |SELECT hour, CAST(x AS BIGINT) AS x,
      |  CAST(n * x - s AS BIGINT) AS dev_n
      |FROM h, g
      |WHERE n * x > s
      |  AND (n * x - s) * (n * x - s) > 4 * (n * ss - s * s)
      |ORDER BY hour""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val h = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("x"))
      .transform(Barrier(_)) // moments and the flag scan both read it
    val g = h.agg(count(lit(1)).as("n"), sum($"x").as("s"),
      sum($"x" * $"x").as("ss"))
    h.crossJoin(broadcast(g))
      .filter($"n" * $"x" > $"s" &&
        ($"n" * $"x" - $"s") * ($"n" * $"x" - $"s") >
          ($"n" * $"ss" - $"s" * $"s") * 4)
      .select($"hour", $"x", ($"n" * $"x" - $"s").as("dev_n"))
      .orderBy($"hour")
  }

  /** Hour-of-day seasonality profile: traffic share per clock hour in
    * basis points plus the peak rank — the load-shape fingerprint
    * capacity planning reads. `hour()` is truncation-safe on the ns
    * timestamps (both engines agree above microseconds).
    */
  val q209_seasonality: Q = Q(
    "q209_seasonality",
    """WITH h AS (SELECT EXTRACT(hour FROM ts) AS hod, COUNT(*) AS x
      |  FROM events GROUP BY 1),
      |g AS (SELECT SUM(x) AS total FROM h)
      |SELECT CAST(hod AS INT) AS hod, CAST(x AS BIGINT) AS x,
      |  CAST(10000 * x // total AS BIGINT) AS share_bp,
      |  CAST(ROW_NUMBER() OVER (ORDER BY x DESC, hod) AS INT) AS rk
      |FROM h, g ORDER BY hod""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val h = Tables.load(spark, dir, "events")
      .groupBy(hour($"ts").cast("int").as("hod"))
      .agg(count(lit(1)).as("x"))
    val g = h.agg(sum($"x").as("total"))
    h.crossJoin(broadcast(g))
      .select($"hod", $"x", expr("10000 * x DIV total").as("share_bp"),
        row_number().over(
          Window.orderBy($"x".desc, $"hod")).cast("int").as("rk"))
      .orderBy($"hod")
  }

  /** Cross-modal label profile: the first documents⋈embeddings join —
    * per embedding label, corpus stats of the docs behind the vectors
    * (count, chars, language diversity, dominant-language share).
    * The label-side relation is (id, label) — two longs and an int —
    * so the join shuffles metadata, never text or vectors; language
    * dominance resolves with one |labels|×|langs|-bounded window.
    */
  val q210_label_profile: Q = Q(
    "q210_label_profile",
    """WITH j AS (SELECT e.label, d.lang, d.n_chars
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |lc AS (SELECT label, lang, COUNT(*) AS n FROM j GROUP BY 1, 2),
      |dom AS (SELECT label, lang AS top_lang, n AS top_n,
      |    SUM(n) OVER (PARTITION BY label) AS tot,
      |    COUNT(*) OVER (PARTITION BY label) AS n_langs
      |  FROM (SELECT label, lang, n,
      |      ROW_NUMBER() OVER (PARTITION BY label
      |        ORDER BY n DESC, lang) AS rk FROM lc) t
      |  QUALIFY rk = 1),
      |s AS (SELECT label, COUNT(*) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM j GROUP BY 1)
      |SELECT s.label, s.n_docs, s.sum_chars,
      |  CAST(d.n_langs AS BIGINT) AS n_langs, d.top_lang,
      |  CAST(10000 * d.top_n // d.tot AS BIGINT) AS top_share_bp
      |FROM s JOIN dom d ON s.label = d.label
      |ORDER BY s.label""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val j = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"n_chars")
      .join(Tables.load(spark, dir, "embeddings")
        .select($"vec_id", $"label"),
        $"doc_id" === $"vec_id")
      .select($"label", $"lang", $"n_chars")
      .transform(Barrier(_)) // stats and dominance both read it
    val lc = j.groupBy($"label", $"lang").agg(count(lit(1)).as("n"))
    val wL = Window.partitionBy($"label")
    val dom = lc
      .withColumn("rk", row_number().over(
        wL.orderBy($"n".desc, $"lang")))
      .withColumn("tot", sum($"n").over(wL))
      .withColumn("n_langs", count(lit(1)).over(wL))
      .filter($"rk" === 1)
      .select($"label", $"lang".as("top_lang"), $"n".as("top_n"),
        $"tot", $"n_langs")
    j.groupBy($"label")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .join(broadcast(dom), "label")
      .select($"label", $"n_docs", $"sum_chars",
        $"n_langs".cast("long").as("n_langs"), $"top_lang",
        expr("10000 * top_n DIV tot").as("top_share_bp"))
      .orderBy($"label")
  }

  /** Attribution-window sensitivity: q206's last-touch credit swept
    * over 5/30/120-minute windows in ONE pass — the window threshold
    * moves to a post-window explode (3 rows per purchase), so the
    * expensive user-keyed exchange happens once no matter how many
    * windows the sweep evaluates.
    */
  val q211_attribution_windows: Q = Q(
    "q211_attribution_windows",
    s"""WITH $TouchCtes,
      |w AS (SELECT unnest([5, 30, 120]) AS window_min)
      |SELECT window_min,
      |  COALESCE(CASE WHEN touch.tus
      |      >= us - window_min * CAST(60000000 AS BIGINT)
      |    THEN touch.tet END, 'none') AS attributed,
      |  COUNT(*) AS n_purchases
      |FROM t CROSS JOIN w WHERE event_type = 'purchase'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(spark, dir, "events")
      .select($"user_id", unix_micros($"ts").as("us"),
        $"event_type", $"event_id")
      .withColumn("touch",
        last(when($"event_type".isin("click", "view"),
          struct($"us".as("tus"), $"event_type".as("tet"))),
          ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"us", $"touch",
        explode(array(lit(5), lit(30), lit(120))).as("window_min"))
      .select($"window_min",
        coalesce(when(
          $"touch.tus" >= $"us" - $"window_min" * 60000000L,
          $"touch.tet"), lit("none")).as("attributed"))
      .groupBy($"window_min", $"attributed")
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy($"window_min", $"attributed")
  }

  /** Quantile normalization: map each document's within-source length
    * rank onto the GLOBAL length distribution (value ← the ⌈r·N/n_s⌉-th
    * smallest corpus value) and report how far each source moves —
    * the batch-effect correction that makes per-source score
    * distributions comparable before cross-source filtering. Order
    * statistics are multiset-exact (the k-th smallest n_chars is
    * well-defined under ties), ranks come from total orders, and the
    * mapping index is exact-integer ceiling division — so both
    * engines produce identical normalized values.
    *
    * Scale shape: the per-source rank is a PARTITIONED window (each
    * source bounded by its own population); the GLOBAL ordinal —
    * which would otherwise funnel the whole corpus through one
    * WindowExec task — comes from
    * [[graft.operators.PrefixSum.withOrdinals]]' range-partitioned
    * two-phase scan, which also hands back big_n for free. One
    * integer-keyed equi join of corpus-sized relations remains,
    * hash-partitioned on the rank index.
    */
  val q212_quantile_norm: Q = Q(
    "q212_quantile_norm",
    """WITH r AS (SELECT doc_id, source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS rs,
      |    COUNT(*) OVER (PARTITION BY source) AS ns
      |  FROM documents),
      |g AS (SELECT n_chars AS g_val,
      |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS g_rank
      |  FROM documents),
      |n AS (SELECT COUNT(*) AS big_n FROM documents),
      |m AS (SELECT r.source, r.n_chars, g.g_val
      |  FROM r, n JOIN g ON g.g_rank = (r.rs * big_n + ns - 1) // ns)
      |SELECT source,
      |  CAST(SUM(ABS(g_val - n_chars)) AS BIGINT) AS total_shift,
      |  CAST(SUM(g_val - n_chars) AS BIGINT) AS net_shift
      |FROM m GROUP BY source ORDER BY source""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", $"n_chars")
    val wS = Window.partitionBy($"source")
    val r = docs
      .withColumn("rs",
        row_number().over(wS.orderBy($"n_chars", $"doc_id")))
      .withColumn("ns", count(lit(1)).over(wS))
    val (gRanked, bigN) = graft.operators.PrefixSum.withOrdinals(
      docs.select($"n_chars", $"doc_id"),
      Seq("n_chars", "doc_id"), "g_rank")
    val g = gRanked.select($"n_chars".as("g_val"), $"g_rank")
    r.select($"source", $"n_chars",
        expr(s"(rs * ${bigN}L + ns - 1) DIV ns").as("k"))
      .join(g, $"k" === $"g_rank")
      .groupBy($"source")
      .agg(sum(abs($"g_val" - $"n_chars")).as("total_shift"),
        sum($"g_val" - $"n_chars").as("net_shift"))
      .orderBy($"source")
  }

  /** Time-to-convert distribution: per user, first signup → first
    * subsequent purchase, latency quartiles by DISCRETE percentile
    * (an actual observed latency, exact in both engines — never an
    * interpolated float). Latencies ride integer seconds derived
    * from the µs pin; the quartiles come from
    * [[graft.operators.Percentiles.exactDisc]] — distributed rank
    * selection, bounded memory on any cohort size.
    */
  val q213_conversion_latency: Q = Q(
    "q213_conversion_latency",
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
      |    event_type FROM events),
      |s AS (SELECT user_id, MIN(us) AS s_us FROM e
      |  WHERE event_type = 'signup' GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(us) AS p_us FROM e JOIN s USING (user_id)
      |  WHERE event_type = 'purchase' AND us >= s_us GROUP BY 1),
      |lat AS (SELECT p.user_id, (p_us - s_us) // 1000000 AS lat_s
      |  FROM p JOIN s USING (user_id))
      |SELECT COUNT(*) AS n_converted,
      |  CAST(MIN(lat_s) AS BIGINT) AS min_s,
      |  CAST(quantile_disc(lat_s, 0.25) AS BIGINT) AS p25_s,
      |  CAST(quantile_disc(lat_s, 0.50) AS BIGINT) AS p50_s,
      |  CAST(quantile_disc(lat_s, 0.75) AS BIGINT) AS p75_s,
      |  CAST(MAX(lat_s) AS BIGINT) AS max_s
      |FROM lat""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val e = Tables.load(spark, dir, "events")
      .select($"user_id", unix_micros($"ts").as("us"), $"event_type")
      .transform(Barrier(_)) // signup mins and purchase mins both read it
    val s = e.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"us").as("s_us"))
    val p = e.filter($"event_type" === "purchase")
      .join(s, Seq("user_id"))
      .filter($"us" >= $"s_us")
      .groupBy($"user_id").agg(min($"us").as("p_us"))
    val lat = p.join(s, Seq("user_id"))
      .select(expr("(p_us - s_us) DIV 1000000").as("lat_s"),
        lit(1).as("_g"))
      .transform(Barrier(_)) // the quartile operator scans it three times
    val qs = graft.operators.Percentiles
      .exactDisc(lat.withColumn("lat_d", $"lat_s".cast("double")),
        "_g", "lat_d", Seq(0.25, 0.5, 0.75))
      .groupBy($"_g")
      .agg(min(when($"p" === 0.25, $"value")).cast("long").as("p25_s"),
        min(when($"p" === 0.5, $"value")).cast("long").as("p50_s"),
        min(when($"p" === 0.75, $"value")).cast("long").as("p75_s"))
    lat.groupBy($"_g")
      .agg(count(lit(1)).as("n_converted"), min($"lat_s").as("min_s"),
        max($"lat_s").as("max_s"))
      .join(broadcast(qs), "_g")
      .select($"n_converted", $"min_s", $"p25_s", $"p50_s", $"p75_s",
        $"max_s")
  }

  /** CUSUM changepoint scan: the days where cumulative volume departs
    * furthest from the uniform-rate line — `|k·S_n − n·S_k|` per day
    * in exact integers (the scaled CUSUM statistic; the argmax is the
    * classic single-changepoint estimate). One daily aggregate, one
    * ordered cumulative window, top-5 deviations.
    */
  val q214_changepoint: Q = Q(
    "q214_changepoint",
    """WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1),
      |c AS (SELECT day, x, SUM(x) OVER (ORDER BY day) AS sk,
      |    ROW_NUMBER() OVER (ORDER BY day) AS k FROM d),
      |t AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM d)
      |SELECT day, CAST(x AS BIGINT) AS x,
      |  CAST(ABS(k * s - n * sk) AS BIGINT) AS dev
      |FROM c, t ORDER BY dev DESC, day LIMIT 5""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val d = Tables.load(spark, dir, "events")
      .groupBy($"ts".cast("date").as("day"))
      .agg(count(lit(1)).as("x"))
      .transform(Barrier(_)) // cumulative walk and totals both read it
    val w = Window.orderBy($"day")
    val c = d
      .withColumn("sk", sum($"x").over(w))
      .withColumn("k", row_number().over(w))
    val t = d.agg(count(lit(1)).as("n"), sum($"x").as("s"))
    c.crossJoin(broadcast(t))
      .select($"day", $"x",
        abs($"k" * $"s" - $"n" * $"sk").as("dev"))
      .orderBy($"dev".desc, $"day")
      .limit(5)
  }

  /** Skip-gram co-occurrence counts: (word, context) pairs within a
    * forward window of 2 — the word2vec/GloVe training-pair
    * extraction, completing the embedding-prep trio beside q198's
    * BPE pairs (adjacent chars) and q203's collocations (adjacent
    * words + association). Pair arrays build in-row (one Let-bound
    * tokenization, one explode); counts map-side combine into a
    * vocabulary²-bounded aggregate.
    */
  val q215_skipgrams: Q = Q(
    "q215_skipgrams",
    """WITH toks AS (SELECT string_split_regex(lower(text), '\s+') AS ts
      |  FROM documents),
      |p AS (SELECT ts[i] AS w, ts[i+k] AS ctx
      |  FROM (SELECT ts, unnest(range(1, len(ts) + 1)) AS i FROM toks) t,
      |       (SELECT unnest([1, 2]) AS k) ks
      |  WHERE i + k <= len(ts))
      |SELECT w, ctx, COUNT(*) AS n FROM p
      |GROUP BY w, ctx ORDER BY n DESC, w, ctx LIMIT 50""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.lowerTokens
    import graft.functions.Let
    val pairArr = Let(lowerTokens($"text")) { ts =>
      when(size(ts) >= 2,
        flatten(transform(sequence(lit(1), size(ts) - 1), i =>
          when(i <= size(ts) - 2, array(
            struct(element_at(ts, i).as("w"),
              element_at(ts, i + 1).as("ctx")),
            struct(element_at(ts, i).as("w"),
              element_at(ts, i + 2).as("ctx"))))
            .otherwise(array(
              struct(element_at(ts, i).as("w"),
                element_at(ts, i + 1).as("ctx")))))))
        .otherwise(array().cast("array<struct<w:string,ctx:string>>"))
    }
    Tables.loadParallel(spark, dir, "documents")
      .select(explode_outer(pairArr).as("p"))
      .filter($"p".isNotNull)
      .select($"p.w", $"p.ctx")
      .groupBy($"w", $"ctx")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w", $"ctx")
      .limit(50)
  }

  val all: Seq[Q] = Seq(
    q197_repetition_rules, q198_bpe_pairs, q199_hard_negatives,
    q200_curriculum_bins, q201_source_overlap, q202_oov_rate,
    q203_collocations, q204_tfidf_keywords, q205_skew_census,
    q206_attribution, q207_self_similarity, q208_rate_spikes,
    q209_seasonality, q210_label_profile, q211_attribution_windows,
    q212_quantile_norm, q213_conversion_latency, q214_changepoint,
    q215_skipgrams)
}
