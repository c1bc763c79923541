package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Bpe

/** Round-7 additions: the full BPE tokenizer loop — induction (q198
  * computed one pair-count step; q220 runs the whole merge loop) and
  * application (q221 encodes the corpus with the learned merges and
  * reports per-source fertility). Kernels in [[graft.operators.Bpe]];
  * the wrapped-symbol-string representation and the rank-order ≡
  * greedy-encode equivalence are documented there and property-tested
  * in BpeProps.
  *
  * Oracle shape: DuckDB has no iterative primitive, so the oracles
  * carry the learning loop as a WITH RECURSIVE over a SINGLE-ROW list
  * state (the whole word-frequency table as a LIST of structs, pair
  * argmax via list lambdas — no aggregates in the recursive term) and
  * the encode as a second recursive CTE applying `merges[i]` at step
  * i. Both engines do literal left-to-right non-overlapping replace,
  * so the hash compare is exact. Everything output is integer counts.
  */
object Extended11 {

  private val R = 16

  /** The recursive encode over `dw(w, …)`: iteration `i` of `enc` holds
    * each word's `|`-delimited tokens after the first `i` merges.
    */
  private val EncCte =
    """enc AS (
      |  SELECT w,
      |    '|' || array_to_string(string_split(w, ''), '||') || '|' AS s,
      |    0 AS i
      |  FROM dw
      |  UNION ALL
      |  SELECT t.w,
      |    replace(t.s, '|' || t.m.a || '||' || t.m.b || '|',
      |            '|' || t.m.a || t.m.b || '|'),
      |    t.i + 1
      |  FROM (SELECT e.w, e.s, e.i, f.merges[e.i + 1] AS m
      |        FROM enc e, fin f WHERE e.i < len(f.merges)) t)""".stripMargin

  /** The shared learning-loop oracle prefix: `fin.merges` is the
    * learned (a, b, cnt) list in rank order.
    */
  private val learnSql =
    s"""wf AS (
      |  SELECT w, COUNT(*)::BIGINT AS f
      |  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
      |        FROM documents) t
      |  WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY 1),
      |init AS (
      |  SELECT list(struct_pack(
      |      s := '|' || array_to_string(string_split(w, ''), '||') || '|',
      |      f := f) ORDER BY w) AS words
      |  FROM wf),
      |st AS (
      |  SELECT 0 AS iter, words,
      |    []::STRUCT(a VARCHAR, b VARCHAR, cnt BIGINT)[] AS merges
      |  FROM init
      |  UNION ALL
      |  SELECT iter + 1,
      |    list_transform(words, w -> struct_pack(
      |      s := replace(w.s, '|' || best.a || '||' || best.b || '|',
      |                   '|' || best.a || best.b || '|'),
      |      f := w.f)),
      |    list_append(merges, best)
      |  FROM (
      |    SELECT iter, words, merges,
      |      (SELECT struct_pack(a := p.a, b := p.b, cnt := p.cnt) FROM (
      |        SELECT cand.a, cand.b,
      |          list_sum(list_transform(words, w ->
      |            w.f * len(list_filter(
      |              range(1, len(string_split(trim(w.s, '|'), '||'))),
      |              i -> string_split(trim(w.s, '|'), '||')[i] = cand.a
      |               AND string_split(trim(w.s, '|'), '||')[i+1] = cand.b))))
      |            ::BIGINT AS cnt
      |        FROM (SELECT DISTINCT unnest(flatten(list_transform(words, w ->
      |                list_transform(
      |                  range(1, len(string_split(trim(w.s, '|'), '||'))),
      |                  i -> struct_pack(
      |                    a := string_split(trim(w.s, '|'), '||')[i],
      |                    b := string_split(trim(w.s, '|'), '||')[i+1])))))
      |              AS p) c(cand)
      |        ORDER BY cnt DESC, cand.a, cand.b LIMIT 1) p) AS best
      |    FROM st WHERE iter < $R) t
      |  WHERE best IS NOT NULL AND best.cnt > 0),
      |fin AS (SELECT merges FROM st ORDER BY iter DESC LIMIT 1)""".stripMargin

  /** BPE merge induction: the first $R merges learned from the corpus
    * word-frequency table (count desc, pair asc tie-break — the exact
    * sequence a tokenizer trainer would emit). One corpus pass builds
    * the (word, freq) table; the R rounds aggregate only that
    * persisted vocabulary table, each materializing a single argmax
    * row on the driver.
    */
  val q220_bpe_learn: Q = Q(
    "q220_bpe_learn",
    s"""WITH RECURSIVE $learnSql
      |SELECT CAST(rank AS INT) AS rank, m.a AS a, m.b AS b, m.cnt AS cnt
      |FROM (SELECT unnest(merges) AS m, generate_subscripts(merges, 1) AS rank
      |      FROM fin) t
      |ORDER BY rank""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val merges = Bpe.learnCorpus(spark, dir, R)
    Bpe.mergesDf(spark, merges).orderBy($"rank")
  }

  /** BPE encode + fertility: learn the merge table, then encode every
    * (source, word) with the rank-ordered sweep chain and report
    * per-source token counts, tokens-per-100-words fertility, and
    * post-encode vocabulary size. The encode is a chain of R codegen'd
    * literal replaces inlined into the aggregate — at 100 TB the plan
    * is: one corpus pass for learning's word-frequency table, one for
    * the (source, word) counts, and bounded-vocabulary work everywhere
    * else; no join carries the corpus.
    */
  val q221_bpe_encode_stats: Q = Q(
    "q221_bpe_encode_stats",
    s"""WITH RECURSIVE $learnSql,
      |sw AS (
      |  SELECT source, w, COUNT(*)::BIGINT AS n
      |  FROM (SELECT source,
      |          unnest(string_split_regex(lower(text), '\\s+')) AS w
      |        FROM documents) t
      |  WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY 1, 2),
      |dw AS (SELECT DISTINCT w FROM sw),
      |$EncCte,
      |wt AS (SELECT e.w, string_split(trim(e.s, '|'), '||') AS toks
      |       FROM enc e, fin f WHERE e.i = len(f.merges)),
      |s1 AS (SELECT sw.source, SUM(sw.n) AS n_words,
      |         SUM(sw.n * len(wt.toks)) AS n_tokens,
      |         COUNT(*) AS n_distinct_words
      |       FROM sw JOIN wt ON sw.w = wt.w GROUP BY 1),
      |s2 AS (SELECT source, COUNT(DISTINCT t) AS n_distinct_tokens
      |       FROM (SELECT sw.source AS source, unnest(wt.toks) AS t
      |             FROM sw JOIN wt ON sw.w = wt.w) z GROUP BY 1)
      |SELECT s1.source, CAST(n_words AS BIGINT) AS n_words,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(100 * n_tokens // n_words AS BIGINT) AS tokens_per_100w,
      |  CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
      |  CAST(n_distinct_tokens AS BIGINT) AS n_distinct_tokens
      |FROM s1 JOIN s2 USING (source) ORDER BY s1.source""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    val merges = Bpe.learnCorpus(spark, dir, R)
    val sw = docs
      .select($"source", explode_outer(split(lower($"text"), "\\s+")).as("w"))
      .filter($"w".rlike(Bpe.WordPattern))
      .groupBy($"source", $"w")
      .agg(count(lit(1)).as("n"))
    // ONE downstream aggregate for all four statistics: explode the
    // token array (vocabulary-bounded — this is post-aggregate), tag
    // each word's stats onto its pos=0 row, and fold words + tokens in
    // a single multi-distinct groupBy. The naive two-branch
    // stats⋈distinct-tokens join re-scans the corpus: column pruning
    // drops `n` from the token branch's aggregate, the two shuffle
    // subtrees stop canonicalizing equal, and ReuseExchange never
    // fires.
    val ex = sw
      .withColumn("toks", Bpe.encodeTokens($"w", merges))
      .select($"source", $"w", $"n", size($"toks").as("tl"),
        posexplode($"toks").as(Seq("pos", "t")))
    ex.groupBy($"source")
      .agg(
        sum(when($"pos" === 0, $"n")).as("n_words"),
        sum(when($"pos" === 0, $"n" * $"tl")).as("n_tokens"),
        count_distinct($"w").as("n_distinct_words"),
        count_distinct($"t").as("n_distinct_tokens"))
      .select($"source", $"n_words", $"n_tokens",
        expr("100 * n_tokens DIV n_words").as("tokens_per_100w"),
        $"n_distinct_words", $"n_distinct_tokens")
      .orderBy($"source")
  }

  /** Corpus tokenization to vocabulary ids — the artifact a training
    * run actually consumes: vocabulary = corpus base characters
    * (sorted, ids 1..C) plus the R learned merges (ids C+rank), and
    * each document becomes its id sequence. The Spark side is
    * join-free and shuffle-free up to the final sort: the vocabulary
    * is a LITERAL map (chars + merges are both bounded and
    * driver-known after learning), and per-doc encoding runs inside a
    * `transform` lambda over the word array — at 100 TB that beats
    * q112's explode→shuffle→reassemble shape because nothing but the
    * finished id string ever leaves the scan stage. (HOF lambdas sit
    * outside whole-stage codegen; the trade is interpreter-stepped
    * expressions vs a corpus-wide exploded shuffle, and the shuffle
    * loses by orders of magnitude.)
    */
  val q222_bpe_ids: Q = Q(
    "q222_bpe_ids",
    s"""WITH RECURSIVE $learnSql,
      |chars AS (SELECT DISTINCT unnest(string_split(w, '')) AS c FROM wf),
      |nch AS (SELECT COUNT(*) AS n FROM chars),
      |vocab AS (
      |  SELECT c AS tok, ROW_NUMBER() OVER (ORDER BY c) AS id FROM chars
      |  UNION ALL
      |  SELECT m.a || m.b AS tok, nch.n + rank AS id
      |  FROM (SELECT unnest(merges) AS m,
      |          generate_subscripts(merges, 1) AS rank FROM fin) t, nch),
      |dw AS (SELECT DISTINCT w FROM wf),
      |$EncCte,
      |wt AS (SELECT e.w, string_split(trim(e.s, '|'), '||') AS toks
      |       FROM enc e, fin f WHERE e.i = len(f.merges)),
      |wi AS (SELECT w, list(id ORDER BY i) AS ids FROM (
      |         SELECT z.w, z.i, vocab.id
      |         FROM (SELECT wt.w, generate_subscripts(wt.toks, 1) AS i,
      |                      unnest(wt.toks) AS t FROM wt) z
      |         JOIN vocab ON vocab.tok = z.t) y
      |       GROUP BY w),
      |dtok AS (SELECT doc_id, pos, w
      |  FROM (SELECT doc_id, generate_subscripts(ws, 1) AS pos,
      |          unnest(ws) AS w
      |        FROM (SELECT doc_id,
      |                list_filter(string_split_regex(lower(text), '\\s+'),
      |                            x -> regexp_matches(x, '^[a-z0-9]+$$')) AS ws
      |              FROM documents WHERE doc_id < 20) d) t)
      |SELECT doc_id,
      |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos, i) AS ids_csv
      |FROM (SELECT dtok.doc_id, dtok.pos,
      |        generate_subscripts(wi.ids, 1) AS i, unnest(wi.ids) AS id
      |      FROM dtok JOIN wi ON wi.w = dtok.w) u
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    val wf = Bpe.wordFreq(docs, $"text")
    val merges = Bpe.learnCorpus(spark, dir, R)
    // base chars: bounded by the charset (collected like SRP's plane
    // vectors — a labeled bounded driver solve, ≤ |alphabet| rows)
    val chars = wf.select(explode(split($"w", "")).as("c"))
      .filter($"c" =!= "").distinct().orderBy($"c")
      .as[String].collect()
    val vocab: Map[String, Int] =
      chars.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap ++
        merges.zipWithIndex.map { case (m, i) =>
          (m.a + m.b) -> (chars.length + i + 1) }
    val vocabMap = typedlit(vocab)
    val words = filter(split(lower($"text"), "\\s+"),
      w => w.rlike(Bpe.WordPattern))
    docs.filter($"doc_id" < 20)
      .select($"doc_id",
        array_join(
          transform(
            flatten(transform(words, w => Bpe.encodeTokens(w, merges))),
            t => element_at(vocabMap, t).cast("string")),
          ",").as("ids_csv"))
      .orderBy($"doc_id")
  }

  /** Tokenizer-budget evaluation: corpus fertility (tokens per 100
    * words) under merge budgets 0/4/8/16 — the curve that tells a
    * tokenizer trainer where extra vocabulary stops paying. Because a
    * rank-k encode is exactly the first k sweeps of the rank-16 chain
    * (merge prefixes are themselves valid merge tables), ONE learning
    * run and ONE pass over the word-frequency table produce all four
    * points: each word carries its token count under every budget as
    * four expression columns, and the weighted sums unpivot to one row
    * per budget. The oracle reads the same four states straight out of
    * the recursive encode CTE's intermediate iterations.
    */
  val q223_fertility_curve: Q = Q(
    "q223_fertility_curve",
    s"""WITH RECURSIVE $learnSql,
      |dw AS (SELECT w, f FROM wf),
      |$EncCte
      |SELECT CAST(enc.i AS INT) AS budget,
      |  CAST(SUM(dw.f) AS BIGINT) AS n_words,
      |  CAST(SUM(dw.f * len(string_split(trim(enc.s, '|'), '||')))
      |    AS BIGINT) AS n_tokens,
      |  CAST(100 * SUM(dw.f * len(string_split(trim(enc.s, '|'), '||')))
      |    // SUM(dw.f) AS BIGINT) AS tokens_per_100w
      |FROM enc JOIN dw ON dw.w = enc.w
      |WHERE enc.i IN (0, 4, 8, 16)
      |GROUP BY enc.i ORDER BY budget""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val wf = Bpe.wordFreq(
      Tables.loadParallel(spark, dir, "documents"), $"text")
    val merges = Bpe.learnCorpus(spark, dir, R)
    val budgets = Seq(0, 4, 8, R)
    val sized = wf.select($"f" +: budgets.map(k =>
      size(Bpe.encodeTokens($"w", merges.take(k))).as(s"t$k")): _*)
    val agg = sized.agg(
      sum($"f").as("n_words"),
      struct(budgets.map(k => sum($"f" * col(s"t$k")).as(s"t$k")): _*)
        .as("toks"))
    agg.select(explode(array(budgets.map(k =>
        struct(lit(k).as("budget"), $"toks".getField(s"t$k").as("n_tokens")))
        : _*)).as("r"), $"n_words")
      .select($"r.budget".as("budget"), $"n_words", $"r.n_tokens",
        expr("100 * r.n_tokens DIV n_words").as("tokens_per_100w"))
      .orderBy($"budget")
  }

  /** Incremental JOIN view maintenance
    * ([[graft.operators.IncrementalAgg.joinDelta]]): the orders ⋈
    * customer view rebuilt incrementally from a historical snapshot
    * plus append deltas on BOTH sides (recent orders; every 10th
    * customer as new arrivals), then aggregated to a compact
    * checksum. The oracle joins the full tables directly — hash
    * equality proves ΔV = ΔA⋈B ∪ A_old⋈ΔB reconstructs the re-join
    * exactly (key_sum over o_orderkey makes the compare sensitive to
    * any multiset slip, not just counts). At 100 TB the maintained
    * view is never re-joined: each batch's work is two joins where
    * one side is the broadcast delta.
    */
  val q224_incremental_join: Q = Q(
    "q224_incremental_join",
    """SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_spend
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.Exact._
    import graft.operators.IncrementalAgg
    val orders = Tables.load(spark, dir, "orders")
      .select($"o_custkey".as("custkey"), $"o_orderkey",
        $"o_orderstatus", $"o_totalprice", $"o_orderdate")
    val cust = Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("custkey"), $"c_mktsegment")
    val cut = lit("1999-01-01").cast("timestamp")
    val view = orders.filter($"o_orderdate" < cut)
      .join(cust.filter($"custkey" % 10 =!= 0), Seq("custkey"))
    IncrementalAgg.joinDelta(
        view,
        aOld = orders.filter($"o_orderdate" < cut),
        aDelta = orders.filter($"o_orderdate" >= cut),
        bOld = cust.filter($"custkey" % 10 =!= 0),
        bDelta = cust.filter($"custkey" % 10 === 0),
        keys = Seq("custkey"))
      .groupBy($"c_mktsegment", $"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum($"o_orderkey").as("key_sum"),
        sum(money($"o_totalprice")).cast("double").as("total_spend"))
      .orderBy($"c_mktsegment", $"o_orderstatus")
  }

  /** CDC-delete maintenance of a partial-aggregate view
    * ([[graft.operators.IncrementalAgg.retractPartials]]): the
    * per-customer order totals with one delete batch (all urgent
    * orders) retracted algebraically — subtract the batch's own
    * partials, drop keys whose count reaches zero, raise on any
    * retraction that is not a subset of history. The oracle aggregates
    * the post-delete rows directly; hash equality proves the
    * subtract-and-drop reconstruction. At 100 TB the maintained table
    * is never rebuilt: the delete batch aggregates only itself, and
    * the merge shuffles partial-table cardinality.
    */
  val q225_retract_agg: Q = Q(
    "q225_retract_agg",
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_spend
      |FROM orders WHERE o_orderpriority <> '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.Exact._
    import graft.operators.IncrementalAgg
    val orders = Tables.load(spark, dir, "orders")
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(money($"o_totalprice")).as("_spend"))
    IncrementalAgg.retractPartials(
        partials(orders),
        partials(orders.filter($"o_orderpriority" === "1-URGENT")),
        keys = Seq("o_custkey"),
        sumCols = Seq("n_orders", "_spend"),
        countCol = "n_orders")
      .select($"o_custkey", $"n_orders",
        $"_spend".cast("double").as("total_spend"))
      .orderBy($"o_custkey")
  }

  val all: Seq[Q] =
    Seq(q220_bpe_learn, q221_bpe_encode_stats, q222_bpe_ids,
      q223_fertility_curve, q224_incremental_join, q225_retract_agg)
}
