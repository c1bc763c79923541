package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Barrier, Tables}

/** Round-6 surface batch: corpus-level chunk ("line") dedup with
  * global first-occurrence retention, and the runtime-error-safe
  * `try_divide` / `try_element_at` surface q119 left unexercised.
  */
object Extended5 {

  /** Cross-document chunk-level dedup — the RefinedWeb/Gopher "remove
    * duplicated lines across the corpus" stage, the third classic
    * dedup granularity next to exact-document (q43) and near-dup
    * document (q78). q128 computes the removal SIGNAL (chunk document
    * frequency ≥ k); this query performs the removal itself: the
    * corpus-wide FIRST occurrence of each chunk survives (ordered by
    * doc_id then chunk position — a total order, so retention is
    * deterministic and reprocessing-stable), every later occurrence is
    * dropped, and per-source kept/dropped accounting falls out. The
    * synthetic corpus has no newlines, so the "line" unit is a
    * non-overlapping 10-token chunk (full chunks only).
    *
    * Shape: one tokenize (Let-bound — PLANS.md, HOF children must not
    * re-evaluate per element) → chunk fingerprints generated inline in
    * the transform (md5 INSIDE the lambda: the chunk string never
    * leaves the expression; only its 32-hex hash is exploded and
    * shuffled) → one window shuffle partitioned by fingerprint → one
    * aggregate by source. At 100 TB the fingerprint shuffle is the
    * whole cost and it moves (fp, doc_id, cid, source), never text. A
    * pathological boilerplate chunk (millions of occurrences) skews
    * one fp partition; the per-partition work is a single sort and
    * AQE's skew split covers the spill.
    */
  val q168_chunk_dedup: Q = Q(
    "q168_chunk_dedup",
    """WITH t AS (SELECT doc_id, source,
      |    string_split_regex(lower(text), '\s+') AS toks FROM documents),
      |c AS (SELECT doc_id, source, g.g AS cid,
      |    md5(array_to_string(toks[g.g*10+1 : g.g*10+10], ' ')) AS fp
      |  FROM t, LATERAL (SELECT unnest(range(len(toks)//10)) AS g) g),
      |r AS (SELECT source,
      |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, cid) AS rn
      |  FROM c)
      |SELECT source, COUNT(*) AS total_chunks,
      |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS dropped_chunks,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 10 ELSE 0 END) AS BIGINT)
      |    AS kept_tokens
      |FROM r GROUP BY source ORDER BY source""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      graft.operators.Dedup.chunkDedup(
          Tables.loadParallel(spark, dir, "documents")
            .select($"doc_id", $"source", $"text"),
          "text", "doc_id", chunkTokens = 10)
        .groupBy($"source")
        .agg(
          count(lit(1)).as("total_chunks"),
          sum(when(!$"kept", 1L).otherwise(0L)).as("dropped_chunks"),
          sum(when($"kept", 10L).otherwise(0L)).as("kept_tokens"))
        .orderBy($"source")
  }

  /** Runtime-error-safe arithmetic and collection access — Spark 4
    * runs ANSI mode by default, so division by zero and out-of-bounds
    * `element_at` THROW unless routed through `try_divide` /
    * `try_element_at` (q119 pinned `try_cast`; these two complete the
    * family a strict-mode pipeline actually needs). NULL-on-error
    * results are pinned against explicitly-guarded oracle SQL (CASE
    * divisor guards; DuckDB list extraction is natively NULL past the
    * end). The quantity that gets SUMMED stays integer — cents DIV d
    * with both operands non-negative, so truncation ≡ floor across
    * engines — while try_divide's double result is only ever
    * null-counted: summing order-dependent doubles would break the
    * hash compare.
    */
  val q169_ansi_safe: Q = Q(
    "q169_ansi_safe",
    """WITH e AS (SELECT event_type, user_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    CASE WHEN event_type = 'error'
      |         THEN 'x' || CAST(user_id AS VARCHAR)
      |         ELSE CAST(user_id AS VARCHAR) END AS s,
      |    user_id % 7 AS d
      |  FROM events)
      |SELECT event_type,
      |  CAST(COUNT(CASE WHEN TRY_CAST(s AS INTEGER) IS NULL THEN 1 END)
      |    AS BIGINT) AS n_bad_casts,
      |  CAST(SUM(COALESCE(TRY_CAST(s AS INTEGER), 0)) AS BIGINT)
      |    AS sum_cast,
      |  CAST(COUNT(CASE WHEN d = 0 THEN 1 END) AS BIGINT) AS n_div_null,
      |  CAST(SUM(CASE WHEN d <> 0 THEN cents // d END) AS BIGINT)
      |    AS sum_div,
      |  CAST(COUNT(CASE WHEN user_id % 3 < 2 THEN 1 END) AS BIGINT)
      |    AS n_elem_null
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val e = Tables.load(spark, dir, "events").select(
        $"event_type", $"user_id",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"),
        when($"event_type" === "error",
          concat(lit("x"), $"user_id".cast("string")))
          .otherwise($"user_id".cast("string")).as("s"),
        ($"user_id" % 7).as("d"))
      e.select($"event_type", $"cents", $"d",
          expr("try_cast(s AS int)").as("c"),
          try_divide($"cents", $"d").as("dv"),
          // 1 + user_id%3 ∈ {1,2,3}: element 3 exists only for %3 == 2;
          // the +1 base dodges sequence(1,0), which DESCENDS
          try_element_at(sequence(lit(1L), lit(1L) + $"user_id" % 3),
            lit(3)).as("el"))
        .groupBy($"event_type")
        .agg(
          count(when($"c".isNull, 1)).as("n_bad_casts"),
          sum(coalesce($"c", lit(0))).cast("long").as("sum_cast"),
          count(when($"dv".isNull, 1)).as("n_div_null"),
          sum(when($"d" =!= 0, expr("cents DIV d"))).cast("long")
            .as("sum_div"),
          count(when($"el".isNull, 1)).as("n_elem_null"))
        .orderBy($"event_type")
  }

  /** ANSI aggregate `FILTER (WHERE …)` clause — per-aggregate row
    * predicates without CASE scaffolding, including the
    * distinct-aggregate form (`COUNT(DISTINCT …) FILTER`) that a CASE
    * rewrite gets wrong unless the else-branch is NULL. Exercised
    * through the SQL surface on both engines (the DataFrame API has no
    * FILTER clause — `when()` is its spelling); one hash aggregate,
    * same plan as the unfiltered form.
    */
  val q170_filtered_aggs: Q = Q(
    "q170_filtered_aggs",
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
      |    AS n_f,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100
      |      AS BIGINT)) FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
      |    AS cents_open,
      |  CAST(COUNT(DISTINCT o_custkey)
      |      FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_custs_f
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100
        |      AS BIGINT)) FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
        |    AS cents_open,
        |  COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F')
        |    AS n_custs_f
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** GROUPING SETS through the first-class DataFrame API —
    * `Dataset.groupingSets` (Spark ≥4.0), the programmatic form of
    * q7's SQL surface (and the shape `cube`/`rollup` can't express:
    * an arbitrary set list skipping the (dow)-only level). `grouping()`
    * disambiguates "NULL because rolled up" from a NULL group value,
    * exactly as in SQL. Day-of-week via `weekday()+1` ≡ DuckDB
    * `isodow` (the pinned calendar rule — never `dayofweek`, whose
    * week start is locale-ish).
    */
  val q171_grouping_sets_api: Q = Q(
    "q171_grouping_sets_api",
    """SELECT COALESCE(event_type, '(all)') AS etype,
      |  COALESCE(CAST(isodow(CAST(ts AS DATE)) AS VARCHAR), '(all)')
      |    AS dow,
      |  CAST(GROUPING(event_type) + GROUPING(isodow(CAST(ts AS DATE)))
      |    AS INT) AS lvl,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT))
      |    AS BIGINT) AS cents
      |FROM events
      |GROUP BY GROUPING SETS
      |  ((event_type, isodow(CAST(ts AS DATE))), (event_type), ())
      |ORDER BY lvl, etype, dow""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select($"event_type".as("et"),
        (weekday(to_date($"ts")) + 1).as("dw"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("c"))
      .groupingSets(
        Seq(Seq($"et", $"dw"), Seq($"et"), Seq.empty),
        $"et", $"dw")
      .agg(
        grouping($"et").as("_ge"), grouping($"dw").as("_gd"),
        count(lit(1)).as("n"), sum($"c").cast("long").as("cents"))
      .select(
        coalesce($"et", lit("(all)")).as("etype"),
        coalesce($"dw".cast("string"), lit("(all)")).as("dow"),
        ($"_ge" + $"_gd").cast("int").as("lvl"),
        $"n", $"cents")
      .orderBy($"lvl", $"etype", $"dow")
  }

  /** Bag-semantics set operations — `exceptAll` / `intersectAll`
    * (multiset difference/intersection, duplicates preserved by
    * count), the ALL forms q19b/q19c's distinct set ops don't touch.
    * Semantics pinned by counting the surviving multiplicities: a user
    * with 5 'view' rows early-week and 2 late-week keeps exactly 3 in
    * the difference and 2 in the intersection. Spark plans these as a
    * single aggregate computing per-row multiplicities then a
    * generate — no join, one shuffle on the full row key.
    */
  val q172_bag_setops: Q = Q(
    "q172_bag_setops",
    """WITH a AS (SELECT user_id % 50 AS u, event_type AS t
      |  FROM events WHERE isodow(CAST(ts AS DATE)) <= 3),
      |b AS (SELECT user_id % 50 AS u, event_type AS t
      |  FROM events WHERE isodow(CAST(ts AS DATE)) > 3)
      |SELECT 'except_all' AS op, u, t, COUNT(*) AS n FROM (
      |  SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 2, 3
      |UNION ALL
      |SELECT 'intersect_all' AS op, u, t, COUNT(*) AS n FROM (
      |  SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 2, 3
      |ORDER BY op, u, t""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val e = Tables.load(spark, dir, "events")
      .select(($"user_id" % 50).as("u"), $"event_type".as("t"),
        (weekday(to_date($"ts")) + 1).as("dw"))
    val a = e.filter($"dw" <= 3).drop("dw")
    val b = e.filter($"dw" > 3).drop("dw")
    def counted(df: org.apache.spark.sql.DataFrame, op: String) =
      df.groupBy($"u", $"t").agg(count(lit(1)).as("n"))
        .select(lit(op).as("op"), $"u", $"t", $"n")
    counted(a.exceptAll(b), "except_all")
      .unionByName(counted(a.intersectAll(b), "intersect_all"))
      .orderBy($"op", $"u", $"t")
  }

  /** Deterministic pagination — `Dataset.offset` + `limit` ≡ SQL
    * `LIMIT … OFFSET …` over a TOTAL order (price ties broken by key;
    * pagination over a partial order returns an arbitrary page and is
    * a correctness bug, not a style nit). Spark plans the pair as one
    * `GlobalLimit(offset+limit)` over a single ordered shuffle — page
    * depth costs memory linearly, so deep pagination at scale should
    * keyset-paginate (WHERE key > last) instead; this pins the shallow
    * form.
    */
  val q173_offset_page: Q = Q(
    "q173_offset_page",
    """SELECT o_orderkey, o_custkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT) AS cents
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 20 OFFSET 40""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .select($"o_orderkey", $"o_custkey",
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .offset(40).limit(20)
  }

  /** GPT-style sequence packing accounting — concatenate each
    * source's documents in doc_id order and slice into fixed
    * 256-token training sequences ("concat-and-chunk"): sequences
    * used, pad waste in the final partial sequence, and how many
    * documents SPAN a sequence boundary (the attention-masking /
    * document-leakage metric packing pipelines watch). Pure window
    * cumsum + integer division on non-negative counts — no
    * materialization of the packed sequences themselves, which at
    * 100 TB is the difference between an accounting query and a
    * rewrite of the corpus.
    */
  val q174_sequence_pack: Q = Q(
    "q174_sequence_pack",
    """WITH d AS (SELECT doc_id, source,
      |    len(string_split_regex(lower(text), '\s+')) AS n
      |  FROM documents),
      |c AS (SELECT doc_id, source, n,
      |    SUM(n) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM d),
      |m AS (SELECT source, n,
      |    (cum - n) // 256 AS first_seq, (cum - 1) // 256 AS last_seq
      |  FROM c)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS total_tokens,
      |  CAST((SUM(n) + 255) // 256 AS BIGINT) AS n_seqs,
      |  CAST((SUM(n) + 255) // 256 * 256 - SUM(n) AS BIGINT)
      |    AS pad_tokens,
      |  CAST(COUNT(CASE WHEN first_seq <> last_seq THEN 1 END)
      |    AS BIGINT) AS n_spanning
      |FROM m GROUP BY source ORDER BY source""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      Tables.loadParallel(spark, dir, "documents")
        .select($"doc_id", $"source",
          size(graft.functions.TextFunctions.lowerTokens($"text"))
            .cast("long").as("n"))
        .withColumn("cum", sum($"n").over(w))
        // all operands non-negative → DIV ≡ DuckDB's flooring //
        .select($"source", $"n",
          expr("(cum - n) DIV 256").as("first_seq"),
          expr("(cum - 1) DIV 256").as("last_seq"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n").as("total_tokens"),
          expr("(sum(n) + 255) DIV 256").as("n_seqs"),
          expr("(sum(n) + 255) DIV 256 * 256 - sum(n)").as("pad_tokens"),
          count(when($"first_seq" =!= $"last_seq", 1)).as("n_spanning"))
        .orderBy($"source")
  }

  /** Domain-mixture rebalancing weights — given per-language token
    * masses and target shares (en 60%, the rest 10% each: the
    * down-sample-the-head shape every pretraining mix applies), the
    * per-language keep rate toward the target, capped at 1 (never
    * up-sample), and the expected post-sample token count. Exact
    * basis-point integer arithmetic on non-negative operands; the
    * total is a scalar subquery (broadcast at any scale).
    */
  val q175_mix_weights: Q = Q(
    "q175_mix_weights",
    """WITH s AS (SELECT lang,
      |    CAST(SUM(len(string_split_regex(lower(text), '\s+')))
      |      AS BIGINT) AS toks
      |  FROM documents GROUP BY lang),
      |t AS (SELECT CAST(SUM(toks) AS BIGINT) AS total FROM s)
      |SELECT lang, toks,
      |  CAST(LEAST(10000,
      |    (CASE WHEN lang = 'en' THEN 6000 ELSE 1000 END) * total
      |      // toks) AS BIGINT) AS keep_bp,
      |  CAST(toks * LEAST(10000,
      |    (CASE WHEN lang = 'en' THEN 6000 ELSE 1000 END) * total
      |      // toks) // 10000 AS BIGINT) AS exp_toks
      |FROM s, t ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = Tables.load(spark, dir, "documents")
      .groupBy($"lang")
      .agg(sum(size(graft.functions.TextFunctions.lowerTokens($"text"))
        .cast("long")).as("toks"))
    val t = s.agg(sum($"toks").as("total"))
    // all operands non-negative → DIV ≡ flooring //; the one-row
    // total broadcasts (at any corpus scale)
    s.crossJoin(broadcast(t))
      .select($"lang", $"toks",
        least(lit(10000L),
          expr("(CASE WHEN lang = 'en' THEN 6000 ELSE 1000 END " +
            "* total) DIV toks")).as("keep_bp"))
      .select($"lang", $"toks", $"keep_bp",
        expr("(toks * keep_bp) DIV 10000").as("exp_toks"))
      .orderBy($"lang")
  }

  // ---- shared PQ pipeline pieces (q176/q177/q178) — one definition
  // of the quantization, subspace split, codebook, distance fold, and
  // assignment, so the scale factor / tie-break / codebook filter can
  // never drift between the index, the search, and the recall gate
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}

  /** floor(v·10⁶) scaled-integer vectors: vec_id, qv. */
  private def pqQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("long")).as("qv"))

  /** m=4 × 16-dim subvector rows: vec_id, sub, v. */
  private def pqSubspaces(df: DataFrame): DataFrame = df
    .select(col("vec_id"), explode(sequence(lit(0), lit(3))).as("sub"),
      col("qv"))
    .select(col("vec_id"), col("sub"),
      slice(col("qv"), col("sub") * 16 + 1, lit(16)).as("v"))

  /** Exact integer squared L2 between two scaled subvectors. */
  private def pqSq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, z) => acc + z)

  /** First-k codebook (vec_id < 4): cid, sub, cv. */
  private def pqCodebook(q: DataFrame): DataFrame =
    pqSubspaces(q.filter(col("vec_id") < 4))
      .select(col("vec_id").as("cid"), col("sub"), col("v").as("cv"))

  /** Nearest-codeword assignment: vec_id, sub, code, mdist —
    * tie-break folded into the ordering value (dist·k + cid). */
  private def pqAssignments(q: DataFrame): DataFrame =
    pqSubspaces(q).join(broadcast(pqCodebook(q)), "sub")
      .select(col("vec_id"), col("sub"), col("cid"),
        pqSq(col("v"), col("cv")).as("dist"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("cid"), col("dist") * 4 + col("cid")).as("code"),
        min(col("dist")).as("mdist"))

  /** ADC tables for the query set (vec_id < 5): qid, sub, cid, adist. */
  private def pqAdc(q: DataFrame): DataFrame =
    pqSubspaces(q.filter(col("vec_id") < 5))
      .join(broadcast(pqCodebook(q)), "sub")
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        pqSq(col("v"), col("cv")).as("adist"))

  /** ADC top-5 per query: qid, rank, vid, adist. */
  private def pqApproxTop5(q: DataFrame): DataFrame = {
    val codes = pqAssignments(q)
    val adc = pqAdc(q)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adist"), col("vid"))
    codes.join(broadcast(adc),
        codes("sub") === adc("sub") && codes("code") === adc("cid") &&
          codes("vec_id") =!= adc("qid"))
      .groupBy(col("qid"), codes("vec_id").as("vid"))
      .agg(sum(col("adist")).cast("long").as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  /** The PQ oracles' scaled vectors `q(vec_id, qv)` and their four
    * 16-dim subvectors `sub(vec_id, sub, v)`.
    */
  private val PqSubCtes =
    """q AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)
      |      * 1000000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |sub AS (SELECT vec_id, s.s AS sub, qv[s.s*16+1 : s.s*16+16] AS v
      |  FROM q, LATERAL (SELECT unnest(range(4)) AS s) s)""".stripMargin

  /** [[PqSubCtes]] plus the codebook `csub` (vectors 0..3), each
    * vector's `codes`, and the ADC distance table `adc` of queries 0..4.
    */
  private val PqAdcCtes =
    s"""$PqSubCtes,
      |csub AS (SELECT vec_id AS cid, sub, v AS cv FROM sub
      |  WHERE vec_id < 4),
      |codes AS (SELECT vec_id, sub,
      |    CAST(arg_min(cid, dist*4 + cid) AS BIGINT) AS code
      |  FROM (SELECT sub.vec_id, sub.sub, cid,
      |      CAST(list_sum(list_transform(list_zip(v, cv),
      |        p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
      |    FROM sub JOIN csub USING (sub)) GROUP BY 1, 2),
      |adc AS (SELECT sub.vec_id AS qid, sub.sub, cid,
      |    CAST(list_sum(list_transform(list_zip(v, cv),
      |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS adist
      |  FROM sub JOIN csub USING (sub) WHERE sub.vec_id < 5)""".stripMargin

  /** Product-quantization codebook assignment — the IVF-PQ building
    * block q133's scalar int8 codes don't cover: split each 64-dim
    * embedding into m=4 16-dim subvectors, assign each to its nearest
    * of k=4 per-subspace codewords, report per-(subspace, code)
    * occupancy and total squared distortion. The codebook is the
    * deterministic "first-k vectors" stub (codebook TRAINING is the
    * Lloyd step q139 already proves); distances are exact scaled
    * integers (`floor(v·10⁶)` longs — squared diffs ≤ ~2⁴⁶, sums fit
    * long with room), argmin tie-breaks fold into the ordering value
    * (`dist·k + cid` — unique because cid < k), so assignment is
    * bit-deterministic in any engine.
    *
    * Scale shape: the codebook is m·k tiny rows — broadcast; the
    * embedding side is scan + generate only (4 subvector rows per
    * vector), one aggregate per (vec, sub) then per (sub, code). At
    * 100 TB of embeddings nothing shuffles except (sub, code, dist)
    * triples post-argmin — the corpus-sized arrays never leave their
    * scan partitions.
    */
  val q176_pq_assign: Q = Q(
    "q176_pq_assign",
    s"""WITH $PqSubCtes,
      |csub AS (SELECT vec_id AS cid, s.s AS sub,
      |    qv[s.s*16+1 : s.s*16+16] AS cv
      |  FROM q, LATERAL (SELECT unnest(range(4)) AS s) s
      |  WHERE vec_id < 4),
      |d AS (SELECT vec_id, sub.sub, cid,
      |    CAST(list_sum(list_transform(list_zip(v, cv),
      |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
      |  FROM sub JOIN csub ON sub.sub = csub.sub),
      |best AS (SELECT vec_id, sub,
      |    CAST(arg_min(cid, dist*4 + cid) AS BIGINT) AS code,
      |    CAST(MIN(dist) AS BIGINT) AS mdist
      |  FROM d GROUP BY 1, 2)
      |SELECT sub, code, COUNT(*) AS n, CAST(SUM(mdist) AS BIGINT)
      |  AS sum_err
      |FROM best GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      pqAssignments(pqQuantize(spark, dir))
        .groupBy($"sub", $"code")
        .agg(count(lit(1)).as("n"), sum($"mdist").cast("long")
          .as("sum_err"))
        .orderBy($"sub", $"code")
  }

  /** PQ asymmetric-distance (ADC) search over q176's codes — the
    * query-time half of IVF-PQ: each query vector precomputes a tiny
    * distance table (its exact distance to every codeword per
    * subspace, m·k = 16 longs), and a database vector's approximate
    * distance is the SUM OF TABLE LOOKUPS selected by its 4 codes —
    * the corpus's raw floats are never touched at query time. Code
    * ties produce equal approximate distances (two vectors with the
    * same code tuple ARE indistinguishable under PQ — visible in the
    * output); ranking tie-breaks on vec_id, so results are
    * bit-deterministic.
    *
    * Scale shape: codes are 4 small ints per vector (the 64× storage
    * compression that makes 100 TB of embeddings searchable from
    * memory); the ADC table (queries × m × k rows) broadcasts; the
    * only aggregate is the per-(query, vector) 4-row sum, shuffled on
    * ids — no float arrays move anywhere.
    */
  val q177_pq_search: Q = Q(
    "q177_pq_search",
    s"""WITH $PqAdcCtes,
      |scored AS (SELECT qid, codes.vec_id AS vid,
      |    CAST(SUM(adist) AS BIGINT) AS adist
      |  FROM codes JOIN adc ON codes.sub = adc.sub
      |    AND codes.code = adc.cid
      |  WHERE codes.vec_id <> qid
      |  GROUP BY 1, 2),
      |ranked AS (SELECT qid, vid, adist,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid)
      |      AS rank
      |  FROM scored)
      |SELECT qid, rank, vid, adist FROM ranked WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    pqApproxTop5(pqQuantize(spark, dir))
      .select($"qid", $"rank", $"vid", $"adist")
      .orderBy($"qid", $"rank")
  }

  /** Recall@5 of the PQ-ADC search against exact ground truth — the
    * quality gate every ANN deployment needs before trusting a
    * compressed index: q177's approximate top-5 intersected with the
    * exact integer-L2 top-5 over the same scaled vectors, per query,
    * in basis points. Both rankings are bit-deterministic (vec_id
    * tie-breaks), so the recall itself is exact — no "approximately
    * 0.8" flakiness. The toy 4-codeword codebook lands 0–40%
    * recall, honestly displaying the compression/recall trade the
    * metric exists to measure; production tunes m·k up until this
    * number meets target.
    *
    * Scale shape: the exact side is the only corpus-sized work (the
    * deliberate cost of ground truth — run it on a SAMPLE of queries
    * at 100 TB, exactly as here); the comparison join moves 10
    * (qid, vid) pairs per query.
    */
  val q178_pq_recall: Q = Q(
    "q178_pq_recall",
    s"""WITH $PqAdcCtes,
      |approx AS (SELECT qid, vid FROM (
      |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY adist, vid) AS rank
      |  FROM (SELECT qid, codes.vec_id AS vid,
      |      CAST(SUM(adist) AS BIGINT) AS adist
      |    FROM codes JOIN adc ON codes.sub = adc.sub
      |      AND codes.code = adc.cid
      |    WHERE codes.vec_id <> qid GROUP BY 1, 2)) WHERE rank <= 5),
      |exact AS (SELECT qid, vid FROM (
      |  SELECT a.vec_id AS qid, b.vec_id AS vid,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
      |      CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
      |        p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT), b.vec_id)
      |      AS rank
      |  FROM q a JOIN q b ON a.vec_id < 5 AND b.vec_id <> a.vec_id)
      |  WHERE rank <= 5)
      |SELECT exact.qid,
      |  CAST(COUNT(approx.vid) * 2000 AS BIGINT) AS recall_bp
      |FROM exact LEFT JOIN approx USING (qid, vid)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val q = pqQuantize(spark, dir)
    val approx = pqApproxTop5(q)
      .select($"qid", $"vid", lit(1).as("_hit"))
    val qs = q.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"qv".as("qqv"))
    val wE = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"edist", $"vid")
    val exact = q.join(broadcast(qs), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("vid"),
        pqSq($"qqv", $"qv").as("edist"))
      .withColumn("rank", row_number().over(wE))
      .filter($"rank" <= 5).select($"qid", $"vid")
    exact.join(approx, Seq("qid", "vid"), "left")
      .groupBy($"qid")
      .agg((count($"_hit") * 2000).as("recall_bp"))
      .orderBy($"qid")
  }

  /** Budget-bounded weighted shortest paths over the part↔supplier
    * co-supply graph (edge weight = the minimum quantity ever shipped
    * on that lane): minimum cost from seed supplier 0 (vertex 1),
    * keeping vertices within a cost budget of 12 —
    * [[graft.operators.Graph.boundedCost]] iterative relaxation /
    * driver Dijkstra vs a recursive-CTE min-cost oracle (two
    * independent shortest-path formulations; the CTE's UNION
    * set-dedup terminates because positive weights make cost strictly
    * increase). The budget bounds the distributed round count by
    * construction (≤ budget / min weight).
    */
  val q179_bounded_cost: Q = Q(
    "q179_bounded_cost",
    """WITH RECURSIVE e AS (
      |  SELECT CAST(l_partkey*2 AS BIGINT) AS src,
      |    CAST(l_suppkey*2+1 AS BIGINT) AS dst,
      |    CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2
      |  UNION ALL
      |  SELECT CAST(l_suppkey*2+1 AS BIGINT),
      |    CAST(l_partkey*2 AS BIGINT),
      |    CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |  FROM lineitem GROUP BY 1, 2),
      |r(id, c) AS (
      |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |  UNION
      |  SELECT e.dst, r.c + e.w FROM r JOIN e ON e.src = r.id
      |  WHERE r.c + e.w <= 12)
      |SELECT id, CAST(MIN(c) AS BIGINT) AS cost FROM r
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // checkpoint the lane aggregate BEFORE symmetrizing: union
    // branches do not share subplans, so an unmaterialized `lanes`
    // would run the full lineitem groupBy twice (PLANS.md round-5:
    // checkpoint the SHARED input, not each derivation)
    val lanes = Tables.load(spark, dir, "lineitem")
      .groupBy(($"l_partkey" * 2).cast("long").as("p"),
        ($"l_suppkey" * 2 + 1).cast("long").as("s"))
      .agg(min($"l_quantity".cast("long")).as("w"))
      .transform(Barrier(_))
    val edges = lanes.select($"p".as("src"), $"s".as("dst"), $"w")
      .unionByName(lanes.select($"s".as("src"), $"p".as("dst"), $"w"))
    val seeds = Seq(1L).toDF("id")
    // the raised threshold sends this graph (~1.2M symmetrized lanes
    // at sf0.1, ~30 MB of long triples) down the driver-Dijkstra path
    // — a ~13-round relaxation loop would pay 2 shuffles per unit of
    // cost budget; q141 keeps the distributed iterative path honest at
    // bench, GraphSpec asserts the two paths identical here
    graft.operators.Graph.boundedCost(edges, seeds, maxCost = 12L,
        localSolveMaxEdges = 1L << 22)
      .orderBy($"id")
  }

  /** Corpus prep v2 — the full modern pretraining recipe end to end,
    * each stage the operator proven individually: quality filter
    * (stopword ratio, q41/q77) → exact document dedup (normalized
    * fingerprint, lowest-id keeps, q43) → chunk-level dedup across
    * the survivors (q168's `Dedup.chunkDedup` — first occurrence
    * keeps) → deterministic 90/5/5 split (q58) with kept-token and
    * 256-token-sequence accounting (q174). One scan of the corpus,
    * one fingerprint shuffle per dedup granularity, one split
    * aggregate — the chain a RefinedWeb-style pipeline runs, with
    * every intermediate bounded (hashes and counts, never re-shuffled
    * text).
    */
  val q180_corpus_prep_v2: Q = Q(
    "q180_corpus_prep_v2",
    """WITH d AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS toks,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |scored AS (SELECT doc_id, toks, fp,
      |    CAST(len(list_filter(toks, w -> list_contains(
      |      ['the','a','of','and','to','in','is','for','on','with'],
      |      w))) AS DOUBLE) / len(toks) AS sr
      |  FROM d),
      |clean AS (SELECT * FROM scored WHERE sr >= 0.05),
      |docdedup AS (SELECT doc_id, toks FROM (
      |    SELECT doc_id, toks,
      |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |    FROM clean) t WHERE rn = 1),
      |occ AS (SELECT doc_id, g.g AS cid,
      |    md5(array_to_string(toks[g.g*10+1 : g.g*10+10], ' ')) AS cfp
      |  FROM docdedup, LATERAL (SELECT unnest(range(len(toks)//10))
      |    AS g) g),
      |kept AS (SELECT doc_id FROM (
      |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY cfp
      |      ORDER BY doc_id, cid) AS rn
      |    FROM occ) t WHERE rn = 1),
      |agg AS (SELECT doc_id, COUNT(*) AS kept_chunks FROM kept
      |  GROUP BY 1)
      |SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
      |    ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(kept_chunks) * 10 AS BIGINT) AS kept_tokens,
      |  CAST(SUM((kept_chunks * 10 + 255) // 256) AS BIGINT) AS n_seqs
      |FROM (SELECT doc_id, kept_chunks,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % 100 AS b
      |  FROM agg) t
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions
    val d = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", $"text",
        graft.functions.Let(TextFunctions.lowerTokens($"text")) { t =>
          size(filter(t, w => w.isin(TextFunctions.EnStopwords: _*)))
            .cast("double") / size(t)
        }.as("sr"),
        TextFunctions.fingerprint($"text").as("fp"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"fp").orderBy($"doc_id")
    val survivors = d.filter($"sr" >= 0.05)
      .withColumn("rn", row_number().over(wDoc))
      .filter($"rn" === 1)
      .select($"doc_id", $"text")
    graft.operators.Dedup.chunkDedup(survivors, "text", "doc_id")
      .filter($"kept")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("kept_chunks"))
      .groupBy(TextFunctions.datasetSplit($"doc_id").as("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        (sum($"kept_chunks") * 10).as("kept_tokens"),
        sum(expr("(kept_chunks * 10 + 255) DIV 256")).as("n_seqs"))
      .orderBy($"split")
  }

  /** Two remaining SQL-sugar/HOF surfaces in one query: `GROUP BY
    * ALL` (infer the grouping keys from the non-aggregate select
    * list — DuckDB's invention, in Spark SQL since 3.4) feeding an
    * `array_sort` with a CUSTOM COMPARATOR lambda (multi-key struct
    * ordering — count desc, then type asc — that the default
    * element ordering can't express). The oracle builds the same
    * ranking with an ordered `string_agg`; the comparator is total,
    * so the serialized order is deterministic on both engines.
    */
  val q181_comparator_sort: Q = Q(
    "q181_comparator_sort",
    """WITH c AS (SELECT user_id % 10 AS bucket, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY ALL)
      |SELECT bucket,
      |  string_agg(event_type || ':' || n, ','
      |    ORDER BY n DESC, event_type) AS ranked
      |FROM c GROUP BY bucket ORDER BY bucket""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      Tables.load(spark, dir, "events")
        .createOrReplaceTempView("events")
      spark.sql(
          """SELECT user_id % 10 AS bucket, event_type, COUNT(*) AS n
            |FROM events GROUP BY ALL""".stripMargin)
        .groupBy($"bucket")
        .agg(collect_list(struct($"event_type", $"n")).as("xs"))
        .select($"bucket",
          concat_ws(",", transform(
            array_sort($"xs", (l, r) =>
              when(l.getField("n") > r.getField("n"), -1)
                .when(l.getField("n") < r.getField("n"), 1)
                .when(l.getField("event_type") < r.getField("event_type"),
                  -1)
                .when(l.getField("event_type") > r.getField("event_type"),
                  1)
                .otherwise(0)),
            e => concat_ws(":", e.getField("event_type"),
              e.getField("n")))).as("ranked"))
        .orderBy($"bucket")
  }

  val all: Seq[Q] = Seq(q168_chunk_dedup, q169_ansi_safe,
    q170_filtered_aggs, q171_grouping_sets_api, q172_bag_setops,
    q173_offset_page, q174_sequence_pack, q175_mix_weights,
    q176_pq_assign, q177_pq_search, q178_pq_recall, q179_bounded_cost,
    q180_corpus_prep_v2, q181_comparator_sort)
}
