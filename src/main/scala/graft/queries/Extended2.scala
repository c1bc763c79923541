package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Exact._
import graft.functions.TextFunctions.lowerTokens
import graft.operators.{Graph, IncrementalAgg, Intervals, Multimodal,
  Percentiles}

/** Round-3 batch 2: fixed-point PageRank, interval coalescing,
  * ordered funnels, incremental view maintenance (algebraic + HLL),
  * map/string/array function sweeps, NULL-ordering, distributed exact
  * percentiles, Z-order keys, outliers, vocabulary encoding, bigrams,
  * table checksums, audio windows, recursive CTEs, validation
  * quarantine, lead gaps, ANSI try_*, schema-evolution unions, and
  * batch-mode tumbling/session windows.
  */
object Extended2 {

  /** PageRank over the customer-nation → supplier-nation trade graph
    * (who does a nation buy from), 3 rounds of exact fixed-point
    * arithmetic — see [[graft.operators.Graph.pageRankInt]] for why
    * integer ranks are the reproducible (and therefore oracle-able)
    * formulation. The oracle unrolls the same three rounds in SQL.
    */
  val q100_pagerank: Q = Q(
    "q100_pagerank",
    """WITH e AS (SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS src,
      |    CAST(s.s_nationkey AS BIGINT) AS dst
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey),
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
      |v AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS pr FROM v),
      |r1 AS (SELECT v.node,
      |    150000000000 + ((85 * COALESCE(SUM(r0.pr // deg.deg), 0)) // 100) AS pr
      |  FROM v LEFT JOIN e ON e.dst = v.node
      |    LEFT JOIN deg ON deg.src = e.src
      |    LEFT JOIN r0 ON r0.node = e.src
      |  GROUP BY v.node),
      |r2 AS (SELECT v.node,
      |    150000000000 + ((85 * COALESCE(SUM(r1.pr // deg.deg), 0)) // 100) AS pr
      |  FROM v LEFT JOIN e ON e.dst = v.node
      |    LEFT JOIN deg ON deg.src = e.src
      |    LEFT JOIN r1 ON r1.node = e.src
      |  GROUP BY v.node),
      |r3 AS (SELECT v.node,
      |    150000000000 + ((85 * COALESCE(SUM(r2.pr // deg.deg), 0)) // 100) AS pr
      |  FROM v LEFT JOIN e ON e.dst = v.node
      |    LEFT JOIN deg ON deg.src = e.src
      |    LEFT JOIN r2 ON r2.node = e.src
      |  GROUP BY v.node)
      |SELECT n.n_name AS nation, CAST(r3.pr AS BIGINT) AS pr
      |FROM r3 JOIN nation n ON n.n_nationkey = r3.node
      |ORDER BY pr DESC, nation""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey")
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey")
    val c = Tables.load(spark, dir, "customer")
      .select($"c_custkey", $"c_nationkey")
    val s = Tables.load(spark, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey")
    val edges = li
      .join(o, $"l_orderkey" === $"o_orderkey")
      // customer/supplier grow with SF — unhinted joins let AQE pick
      // broadcast vs hash by actual size (q11 rationale)
      .join(c, $"o_custkey" === $"c_custkey")
      .join(s, $"l_suppkey" === $"s_suppkey")
      .select($"c_nationkey".cast("long").as("src"),
        $"s_nationkey".cast("long").as("dst"))
      .filter($"src" =!= $"dst")
      .distinct()
    val nation = Tables.load(spark, dir, "nation")
      .select($"n_nationkey".cast("long").as("node"), $"n_name")
    Graph.pageRankInt(edges, iters = 3)
      .join(broadcast(nation), "node")
      .select($"n_name".as("nation"), $"pr")
      .orderBy($"pr".desc, $"nation")
  }

  /** Activity-burst extraction: each event pads to a 5-minute
    * [minute(ts), minute(ts)+5) interval and overlapping/touching
    * intervals merge per user ([[Intervals.mergeOverlaps]]) — the
    * interval-union dual of q94's concurrency sweep, and an
    * alternative sessionization formulation (cf. q50's gap-based
    * lag/cumsum). Minute-grain bounds are emitted as strings so both
    * engines hash the same value regardless of timestamp precision.
    */
  val q101_interval_merge: Q = Q(
    "q101_interval_merge",
    """WITH iv0 AS (SELECT DISTINCT user_id, date_trunc('minute', ts) AS s
      |  FROM events WHERE user_id < 50),
      |iv AS (SELECT user_id, s, s + INTERVAL 5 MINUTE AS e FROM iv0),
      |m AS (SELECT user_id, s, e,
      |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |  FROM iv),
      |isl AS (SELECT user_id, s, e,
      |    SUM(CASE WHEN pme IS NULL OR pme < s THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY s, e
      |        ROWS UNBOUNDED PRECEDING) AS island
      |  FROM m)
      |SELECT user_id, CAST(island AS BIGINT) AS island,
      |  strftime(MIN(s), '%Y-%m-%d %H:%M') AS start_min,
      |  strftime(MAX(e), '%Y-%m-%d %H:%M') AS end_min,
      |  COUNT(*) AS n_merged
      |FROM isl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val iv = Tables.load(spark, dir, "events")
      .filter($"user_id" < 50)
      .select($"user_id", date_trunc("minute", $"ts").as("s"))
      .distinct()
      .withColumn("e", $"s" + expr("INTERVAL 5 MINUTES"))
    Intervals.mergeOverlaps(iv, Seq("user_id"), "s", "e")
      .select($"user_id", $"island",
        date_format($"s", "yyyy-MM-dd HH:mm").as("start_min"),
        date_format($"e", "yyyy-MM-dd HH:mm").as("end_min"),
        $"n_merged")
      .orderBy($"user_id", $"island")
  }

  /** Strict-ordered funnel: view → click (after the first view) →
    * purchase (after that click), each step's timestamp strictly
    * greater than the previous step's. q15 counts same-day converters
    * with one aggregation; this is the sequential variant whose steps
    * genuinely depend on each other, so it chains one bounded
    * (per-user) join per step. Comparisons run on microsecond longs —
    * `unix_micros` here, `epoch_ns // 1000` in the oracle — because
    * raw event timestamps carry ns in parquet and µs in Spark.
    */
  val q102_funnel_sequence: Q = Q(
    "q102_funnel_sequence",
    """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
      |  FROM events),
      |t1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
      |  WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT ev.user_id, MIN(ev.us) AS t2
      |  FROM ev JOIN t1 USING (user_id)
      |  WHERE ev.event_type = 'click' AND ev.us > t1.t1 GROUP BY 1),
      |t3 AS (SELECT ev.user_id, MIN(ev.us) AS t3
      |  FROM ev JOIN t2 USING (user_id)
      |  WHERE ev.event_type = 'purchase' AND ev.us > t2.t2 GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM t1) AS n_step1,
      |  (SELECT COUNT(*) FROM t2) AS n_step2,
      |  (SELECT COUNT(*) FROM t3) AS n_step3""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val t1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("t1"))
    val t2 = ev.filter($"event_type" === "click")
      .join(t1, "user_id").filter($"us" > $"t1")
      .groupBy($"user_id").agg(min($"us").as("t2"))
    val t3 = ev.filter($"event_type" === "purchase")
      .join(t2, "user_id").filter($"us" > $"t2")
      .groupBy($"user_id").agg(min($"us").as("t3"))
    t1.join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .agg(
        count($"t1").as("n_step1"),
        count($"t2").as("n_step2"),
        count($"t3").as("n_step3"))
  }

  /** Incremental aggregate maintenance: per-customer order partials
    * (count, exact-decimal spend, latest day) computed separately for
    * the history (pre-1995) and the delta (1995+), then merged
    * key-by-key ([[IncrementalAgg.mergePartials]]) — the oracle
    * aggregates the raw union directly, proving merge ≡ recompute.
    * At scale only the delta is ever re-aggregated.
    */
  val q103_incremental_agg: Q = Q(
    "q103_incremental_agg",
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_spend,
      |  MAX(CAST(o_orderdate AS DATE)) AS last_day
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val cut = lit("1995-01-01").cast("timestamp")
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"o_custkey")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(money($"o_totalprice")).as("_total"),
          max($"o_orderdate".cast("date")).as("last_day"))
    val base = partials(orders.filter($"o_orderdate" < cut))
    val delta = partials(orders.filter($"o_orderdate" >= cut))
    IncrementalAgg.mergePartials(base, delta, Seq("o_custkey"),
        sumCols = Seq("n_orders", "_total"), maxCols = Seq("last_day"))
      .select($"o_custkey", $"n_orders",
        $"_total".cast("double").as("total_spend"), $"last_day")
      .orderBy($"o_custkey")
  }

  /** Map-typed columns end to end: build a per-user map event_type →
    * count (`map_from_entries` over a sorted entry list), filter
    * entries by value (`map_filter`), rescale values
    * (`transform_values`), and explode back to rows. The oracle
    * states the equivalent relational HAVING query — the map is pure
    * per-row structure, so the plan stays one aggregation + one
    * generate with no extra shuffle.
    */
  val q104_map_funcs: Q = Q(
    "q104_map_funcs",
    """SELECT user_id, event_type, COUNT(*) * 10 AS n_scaled
      |FROM events WHERE user_id < 30
      |GROUP BY 1, 2 HAVING COUNT(*) >= 3
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .filter($"user_id" < 30)
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("n"))
      .groupBy($"user_id")
      .agg(map_from_entries(
        sort_array(collect_list(struct($"event_type", $"n")))).as("m"))
      .withColumn("m", map_filter($"m", (_, v) => v >= 3))
      .withColumn("m", transform_values($"m", (_, v) => v * 10))
      .select($"user_id", explode($"m").as(Seq("event_type", "n_scaled")))
      .orderBy($"user_id", $"event_type")
  }

  /** String-function sweep beyond q5: padding, regex extract/replace,
    * reversal, char translation, and 1-based substring position —
    * every expression codegen'd, all engine-agnostic (the oracle
    * passes the 'g' flag because DuckDB's regexp_replace is
    * first-match-only by default while Spark's replaces all).
    */
  val q105_string_funcs: Q = Q(
    "q105_string_funcs",
    """SELECT p_partkey,
      |  length(p_name) AS name_len,
      |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_id,
      |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      |  regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
      |  reverse(p_name) AS rev_name,
      |  replace(p_name, ' ', '_') AS snake_name,
      |  strpos(p_name, ' ') AS first_space
      |FROM part WHERE p_partkey <= 200
      |ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "part")
      .filter($"p_partkey" <= 200)
      .select($"p_partkey",
        length($"p_name").as("name_len"),
        lpad($"p_partkey".cast("string"), 8, "0").as("padded_id"),
        regexp_extract($"p_name", "([a-z]+)$", 1).as("last_word"),
        regexp_replace($"p_name", "[aeiou]", "").as("devoweled"),
        reverse($"p_name").as("rev_name"),
        translate($"p_name", " ", "_").as("snake_name"),
        instr($"p_name", " ").as("first_space"))
      .orderBy($"p_partkey")
  }

  /** Array functions + higher-order lambdas over token arrays:
    * size/distinct/slice/join/contains/position, `transform` +
    * `array_max`, `filter` with a length predicate, and an
    * `aggregate` fold — the per-row array algebra a document
    * pipeline leans on, matched to DuckDB's list_* forms. All
    * per-row, zero shuffles beyond the final sort.
    */
  val q106_array_funcs: Q = Q(
    "q106_array_funcs",
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS toks
      |  FROM documents WHERE doc_id < 20)
      |SELECT doc_id,
      |  len(toks) AS n_toks,
      |  len(list_distinct(toks)) AS n_distinct,
      |  array_to_string(toks[1:3], '-') AS first3,
      |  list_contains(toks, 'the') AS has_the,
      |  COALESCE(list_position(toks, 'the'), 0) AS pos_the,
      |  list_max(list_transform(toks, x -> length(x))) AS longest_tok,
      |  len(list_filter(toks, x -> length(x) > 5)) AS n_long,
      |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
      |    AS total_chars
      |FROM t ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .filter($"doc_id" < 20)
      .select($"doc_id", lowerTokens($"text").as("toks"))
      .select($"doc_id",
        size($"toks").as("n_toks"),
        size(array_distinct($"toks")).as("n_distinct"),
        array_join(slice($"toks", 1, 3), "-").as("first3"),
        array_contains($"toks", "the").as("has_the"),
        array_position($"toks", "the").as("pos_the"),
        array_max(transform($"toks", x => length(x))).as("longest_tok"),
        size(filter($"toks", x => length(x) > 5)).as("n_long"),
        aggregate($"toks", lit(0L), (acc, x) => acc + length(x))
          .as("total_chars"))
      .orderBy($"doc_id")
  }

  /** NULL-ordering surface (reference O4, `NULLS LAST`): the same
    * column ranked under ASC NULLS FIRST and DESC NULLS LAST in one
    * pass, with nulls synthesized from negative balances. Ties break
    * by key, so both rankings are total orders.
    */
  val q107_null_ordering: Q = Q(
    "q107_null_ordering",
    """WITH c AS (SELECT c_custkey,
      |    CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
      |  FROM customer WHERE c_custkey <= 300)
      |SELECT c_custkey, bal,
      |  ROW_NUMBER() OVER (ORDER BY bal ASC NULLS FIRST, c_custkey)
      |    AS rn_nulls_first,
      |  ROW_NUMBER() OVER (ORDER BY bal DESC NULLS LAST, c_custkey)
      |    AS rn_nulls_last
      |FROM c ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val c = Tables.load(spark, dir, "customer")
      .filter($"c_custkey" <= 300)
      .select($"c_custkey",
        when($"c_acctbal" < 0, lit(null)).otherwise($"c_acctbal")
          .as("bal"))
    c.select($"c_custkey", $"bal",
        row_number().over(Window.orderBy(
          $"bal".asc_nulls_first, $"c_custkey")).as("rn_nulls_first"),
        row_number().over(Window.orderBy(
          $"bal".desc_nulls_last, $"c_custkey")).as("rn_nulls_last"))
      .orderBy($"c_custkey")
  }

  /** Exact percentiles by distributed rank selection
    * ([[graft.operators.Percentiles.exactCont]]) — same report and
    * same `quantile_cont` oracle as q62, but where q62's `percentile`
    * aggregate buffers every group value in one task, this path
    * range-partitions the sort and extracts only the rows flanking
    * each target rank: exact answers with bounded memory on groups of
    * any size. The matching hash proves the two regimes agree.
    */
  val q108_percentile_rank: Q = Q(
    "q108_percentile_rank",
    OracleSql.StatusPercentilesOracle) { (spark, dir) =>
    import spark.implicits._
    Percentiles.exactCont(
        Tables.load(spark, dir, "orders"),
        groupCol = "o_orderstatus", valueCol = "o_totalprice",
        ps = Seq(0.5, 0.9))
      .groupBy($"o_orderstatus")
      .agg(
        max(when($"p" === 0.5, $"value")).as("median_price"),
        max(when($"p" === 0.9, $"value")).as("p90_price"),
        max($"n_rows").as("n_orders"))
      .orderBy($"o_orderstatus")
  }

  /** Z-order layout key ([[graft.functions.ZOrder.morton2]]): the
    * (part, supplier) density grid keyed by interleaved-bit Morton
    * codes — the clustering key a 100 TB fact would be laid out by so
    * min/max stats prune filters on either dimension. The oracle
    * replays the 4-round mask-and-shift spread in integer SQL, so the
    * bit arithmetic itself is cross-engine-verified.
    */
  val q109_zorder: Q = Q(
    "q109_zorder",
    """WITH d AS (SELECT CAST(l_partkey % 1024 AS BIGINT) AS x,
      |    CAST(l_suppkey % 1024 AS BIGINT) AS y, COUNT(*) AS n_lines
      |  FROM lineitem GROUP BY 1, 2),
      |s0 AS (SELECT x, y, n_lines,
      |  (x | (x << 8)) & 16711935 AS xs,
      |  (y | (y << 8)) & 16711935 AS ys FROM d),
      |s1 AS (SELECT x, y, n_lines,
      |  (xs | (xs << 4)) & 252645135 AS xs,
      |  (ys | (ys << 4)) & 252645135 AS ys FROM s0),
      |s2 AS (SELECT x, y, n_lines,
      |  (xs | (xs << 2)) & 858993459 AS xs,
      |  (ys | (ys << 2)) & 858993459 AS ys FROM s1),
      |s3 AS (SELECT x, y, n_lines,
      |  (xs | (xs << 1)) & 1431655765 AS xs,
      |  (ys | (ys << 1)) & 1431655765 AS ys FROM s2)
      |SELECT x, y, (xs | (ys << 1)) AS z, n_lines
      |FROM s3 ORDER BY z, x, y LIMIT 200""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .groupBy(($"l_partkey" % 1024).as("x"), ($"l_suppkey" % 1024).as("y"))
      .agg(count(lit(1)).as("n_lines"))
      .withColumn("z", graft.functions.ZOrder.morton2($"x", $"y"))
      .select($"x", $"y", $"z", $"n_lines")
      .orderBy($"z", $"x", $"y")
      .limit(200)
  }

  /** Incremental COUNT DISTINCT via mergeable HLL sketches
    * ([[IncrementalAgg.mergeSketches]]) — q103's maintenance story
    * for the aggregate that has NO algebraic partial: each period
    * sketches only its own events, the union is a few KB per key
    * forever, and the estimate reads the maintained table. Estimates
    * are engine-specific (DataSketches HLL here), so — same
    * accuracy-envelope policy as q9/q66 — the query checks the merged
    * estimate against the exact full-corpus COUNT(DISTINCT) within 5%
    * and the oracle asserts TRUE; the exact-equality law is
    * spec-tested at small cardinalities on top.
    */
  val q110_hll_incremental: Q = Q(
    "q110_hll_incremental",
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact,
      |  TRUE AS approx_ok
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"event_type", $"user_id",
        $"ts".cast("date").as("day"))
    val cut = lit("2024-02-01").cast("date")
    def sketch(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"event_type")
        .agg(hll_sketch_agg($"user_id").as("users_sk"))
    val base = sketch(ev.filter($"day" < cut))
    val delta = sketch(ev.filter($"day" >= cut))
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users_exact"))
    IncrementalAgg.mergeSketches(base, delta, Seq("event_type"),
        Seq("users_sk"))
      .select($"event_type",
        hll_sketch_estimate($"users_sk").as("distinct_users"))
      .join(exact, Seq("event_type"))
      .select($"event_type", $"n_users_exact",
        (abs($"distinct_users" - $"n_users_exact") <=
          $"n_users_exact" * 0.05).as("approx_ok"))
      .orderBy($"event_type")
  }

  /** IQR-fence outlier detection per group: quartiles once per
    * status, broadcast back to the fact, count rows beyond
    * p75 + 1.5·IQR. The fence arithmetic runs on bit-identical
    * quantile doubles with the same expression in both engines, so
    * even the boundary comparisons reproduce. One fact scan per
    * side + a broadcast join — no per-row window.
    */
  val q111_outliers: Q = Q(
    "q111_outliers",
    """WITH q AS (SELECT o_orderstatus,
      |    quantile_cont(o_totalprice, 0.25) AS p25,
      |    quantile_cont(o_totalprice, 0.75) AS p75
      |  FROM orders GROUP BY 1)
      |SELECT o.o_orderstatus, q.p25, q.p75,
      |  COUNT(CASE WHEN o.o_totalprice > q.p75 + 1.5 * (q.p75 - q.p25)
      |    THEN 1 END) AS n_outliers,
      |  COUNT(*) AS n_orders
      |FROM orders o JOIN q USING (o_orderstatus)
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val q = orders.groupBy($"o_orderstatus")
      .agg(
        percentile($"o_totalprice", lit(0.25)).as("p25"),
        percentile($"o_totalprice", lit(0.75)).as("p75"))
    orders.join(broadcast(q), "o_orderstatus")
      .groupBy($"o_orderstatus", $"p25", $"p75")
      .agg(
        count(when($"o_totalprice" > $"p75" + lit(1.5) * ($"p75" - $"p25"),
          1)).as("n_outliers"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderstatus")
  }

  /** Vocabulary encoding — the tokenizer-dictionary step of a
    * training pipeline: build the top-100 vocabulary by document
    * frequency (deterministic tie-break on the token), broadcast it,
    * and encode each document's first 10 tokens as dictionary ids
    * (0 = UNK). The dictionary is dimension-sized by construction, so
    * the apply side is a broadcast join over any corpus size; the
    * ordered reassembly is `array_sort(collect_list(struct(pos, id)))`
    * — the A3 ordered-agg discipline, not a window sort.
    */
  val q112_vocab_encode: Q = Q(
    "q112_vocab_encode",
    """WITH t AS (SELECT doc_id,
      |    unnest(string_split_regex(lower(text), '\s+')) AS tok
      |  FROM documents),
      |dfq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
      |vocab AS (SELECT tok,
      |    ROW_NUMBER() OVER (ORDER BY df DESC, tok) AS id
      |  FROM dfq QUALIFY id <= 100),
      |f AS (SELECT d.doc_id,
      |    generate_subscripts(d.toks[1:10], 1) AS pos,
      |    unnest(d.toks[1:10]) AS tok
      |  FROM (SELECT doc_id,
      |      string_split_regex(lower(text), '\s+') AS toks
      |    FROM documents WHERE doc_id < 20) d),
      |e AS (SELECT f.doc_id, f.pos,
      |    COALESCE(v.id, 0) AS id
      |  FROM f LEFT JOIN vocab v ON f.tok = v.tok)
      |SELECT doc_id,
      |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids_csv
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.loadParallel(spark, dir, "documents")
    val dfq = docs
      .select($"doc_id", explode(lowerTokens($"text")).as("tok"))
      .distinct()
      .groupBy($"tok").agg(count(lit(1)).as("df"))
    // top-k FIRST via orderBy().limit() (TakeOrderedAndProject — each
    // partition keeps its own top 100 before one bounded merge), THEN
    // rank the 100 survivors. Ranking with a global row_number window
    // and filtering afterwards would funnel the ENTIRE vocabulary
    // through a single task at corpus scale.
    val vocab = dfq
      .orderBy($"df".desc, $"tok").limit(100)
      .withColumn("id",
        row_number().over(Window.orderBy($"df".desc, $"tok")))
      .select($"tok", $"id")
    docs.filter($"doc_id" < 20)
      .select($"doc_id",
        posexplode(slice(lowerTokens($"text"), 1, 10))
          .as(Seq("pos", "tok")))
      .join(broadcast(vocab), Seq("tok"), "left")
      .select($"doc_id", $"pos",
        coalesce($"id", lit(0)).as("id"))
      .groupBy($"doc_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct($"pos", $"id"))),
          x => x.getField("id").cast("string")),
        ",").as("ids_csv"))
      .orderBy($"doc_id")
  }

  /** Bigram counts: adjacent-token pairs via a zip of the array with
    * its own 1-shifted slice — NOT `sequence(1, size-1)` indexing,
    * which silently DESCENDS for 1-token docs (the q76 trap). Top
    * bigrams by count with total tie-break order.
    */
  val q113_bigrams: Q = Q(
    "q113_bigrams",
    """WITH t AS (SELECT string_split_regex(lower(text), '\s+') AS toks
      |  FROM documents),
      |b AS (SELECT unnest(list_transform(
      |    generate_series(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      |  FROM t)
      |SELECT bigram, COUNT(*) AS n
      |FROM b GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val toks = lowerTokens($"text")
    val w = greatest(size(toks) - 1, lit(0))
    Tables.loadParallel(spark, dir, "documents")
      .select(explode(arrays_zip(
        slice(toks, lit(1), w), slice(toks, lit(2), w))).as("pair"))
      .select(concat_ws(" ", $"pair.0", $"pair.1").as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram")
      .limit(20)
  }

  /** Order-independent table checksums — the migration-validation
    * tool a user switching engines runs on BOTH systems: every row
    * hashes to a 60-bit md5-derived integer, XOR-folded per table
    * (commutative, overflow-free at any row count, partial-merge
    * friendly). Doubles go through the DECIMAL(18,2) money cast
    * before stringification so both engines serialize identical
    * digits; this very query hash-matching IS a demonstration of the
    * cross-engine checksum protocol on three tables at once.
    */
  val q114_table_checksum: Q = Q(
    "q114_table_checksum",
    """WITH n AS (SELECT 'nation' AS table_name, COUNT(*) AS n_rows,
      |  bit_xor(CAST(concat('0x', substr(md5(
      |    concat_ws('|', n_nationkey, n_name, n_regionkey)), 1, 15))
      |    AS BIGINT)) AS xor_checksum FROM nation),
      |r AS (SELECT 'region', COUNT(*),
      |  bit_xor(CAST(concat('0x', substr(md5(
      |    concat_ws('|', r_regionkey, r_name)), 1, 15))
      |    AS BIGINT)) FROM region),
      |s AS (SELECT 'supplier', COUNT(*),
      |  bit_xor(CAST(concat('0x', substr(md5(
      |    concat_ws('|', s_suppkey, s_name, s_nationkey,
      |      CAST(s_acctbal AS DECIMAL(18,2)))), 1, 15))
      |    AS BIGINT)) FROM supplier)
      |SELECT * FROM n UNION ALL SELECT * FROM r
      |UNION ALL SELECT * FROM s
      |ORDER BY table_name""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    def checksum(table: String, rowRepr: org.apache.spark.sql.Column) =
      Tables.load(spark, dir, table)
        .select(graft.plans.Md5PrefixLong(rowRepr).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_checksum"))
        .select(lit(table).as("table_name"), $"n_rows", $"xor_checksum")
    checksum("nation",
        concat_ws("|", $"n_nationkey", $"n_name", $"n_regionkey"))
      .unionByName(checksum("region",
        concat_ws("|", $"r_regionkey", $"r_name")))
      .unionByName(checksum("supplier",
        concat_ws("|", $"s_suppkey", $"s_name", $"s_nationkey",
          money($"s_acctbal"))))
      .orderBy($"table_name")
  }

  /** Audio window sampling ([[graft.operators.Multimodal.sampleWindows]]):
    * 5 s windows at a 2 s hop over every audio item, per-window energy
    * from the deterministic decode seam, rolled up per id bucket. The
    * oracle replays the metadata derivation, the window arithmetic
    * (trailing partials included), and the md5 energy stub — so the
    * whole audio plumbing short of the codec is cross-engine-checked.
    */
  val q115_audio_windows: Q = Q(
    "q115_audio_windows",
    """WITH a AS (SELECT doc_id AS media_id,
      |    (doc_id * 7) % 240 + 1 AS dur
      |  FROM documents WHERE doc_id % 3 = 1),
      |w AS (SELECT media_id, dur,
      |    unnest(generate_series(0,
      |      CAST(FLOOR((dur - 1) / 2.0) AS INT))) AS win_idx
      |  FROM a),
      |e AS (SELECT media_id, win_idx,
      |    LEAST(win_idx * 2 + 5, dur) - win_idx * 2 AS win_len,
      |    CAST(concat('0x',
      |      substr(md5(concat_ws(':', media_id, win_idx)), 1, 4))
      |      AS BIGINT) % 1000 AS energy
      |  FROM w)
      |SELECT media_id % 5 AS bucket,
      |  COUNT(DISTINCT media_id) AS n_audio,
      |  COUNT(*) AS n_windows,
      |  CAST(SUM(win_len) AS BIGINT) AS total_window_s,
      |  CAST(SUM(energy) AS BIGINT) AS sum_energy
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val media = Multimodal.attachMedia(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    Multimodal.sampleWindows(media, windowS = 5, hopS = 2)
      .groupBy(($"media_id" % 5).as("bucket"))
      .agg(
        countDistinct($"media_id").as("n_audio"),
        count(lit(1)).as("n_windows"),
        sum(($"t_end_s" - $"t_start_s").cast("long"))
          .as("total_window_s"),
        sum($"energy").as("sum_energy"))
      .orderBy($"bucket")
  }

  /** Recursive CTE (Spark ≥4.0 `WITH RECURSIVE`): walk a derived
    * customer hierarchy (parent = id DIV 10 — a deterministic ~4-deep
    * tree) from the single-digit roots, one UNION ALL step per level,
    * aggregated per depth. DuckDB replays the same recursion; the
    * relational alternative for unbounded depth remains the iterative
    * operator loop (q88/q100), but bounded hierarchy walks are
    * exactly what the SQL surface should express directly.
    */
  val q116_recursive_cte: Q = Q(
    "q116_recursive_cte",
    """WITH RECURSIVE h AS (
      |  SELECT c_custkey AS id, 0 AS depth FROM customer
      |  WHERE c_custkey BETWEEN 1 AND 9
      |  UNION ALL
      |  SELECT c.c_custkey, h.depth + 1
      |  FROM customer c JOIN h ON c.c_custkey // 10 = h.id)
      |SELECT depth, COUNT(*) AS n,
      |  CAST(MIN(id) AS BIGINT) AS min_id,
      |  CAST(MAX(id) AS BIGINT) AS max_id
      |FROM h GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("customer")
    spark.sql(
      """WITH RECURSIVE h AS (
        |  SELECT c_custkey AS id, 0 AS depth FROM customer
        |  WHERE c_custkey BETWEEN 1 AND 9
        |  UNION ALL
        |  SELECT c.c_custkey, h.depth + 1
        |  FROM customer c JOIN h ON c.c_custkey DIV 10 = h.id)
        |SELECT depth, COUNT(*) AS n,
        |  CAST(MIN(id) AS BIGINT) AS min_id,
        |  CAST(MAX(id) AS BIGINT) AS max_id
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Enum validation / dead-letter routing
    * ([[graft.functions.Validate]]): event_type checked against an
    * allowed domain in quarantine stance — valid rows keep their
    * value, violations rank into a dead-letter count per source
    * value. The CHECK-constraint analog at a pipeline boundary,
    * behind the oracle gate (strict stance is spec-tested since it
    * throws by design).
    */
  val q117_validate_quarantine: Q = Q(
    "q117_validate_quarantine",
    """SELECT CASE WHEN event_type IN ('view', 'click', 'purchase')
      |    THEN event_type END AS valid_type,
      |  COUNT(*) AS n,
      |  COUNT(CASE WHEN event_type NOT IN ('view', 'click', 'purchase')
      |    THEN 1 END) AS n_quarantined
      |FROM events
      |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val allowed = Seq("view", "click", "purchase")
    Tables.load(spark, dir, "events")
      .select(
        graft.functions.Validate.enumOrNull($"event_type", allowed)
          .as("valid_type"),
        graft.functions.Validate.enumViolation($"event_type", allowed)
          .as("_bad"))
      .groupBy($"valid_type")
      .agg(count(lit(1)).as("n"),
        count(when($"_bad", 1)).as("n_quarantined"))
      .orderBy($"valid_type".asc_nulls_first)
  }

  /** Inter-event gap distribution: `lead` over each user's ordered
    * activity days (the only W-family offset not yet exercised —
    * q21 uses `lag`), histogrammed by gap length. One shuffle on the
    * user key, then a tiny re-aggregation.
    */
  val q118_lead_gaps: Q = Q(
    "q118_lead_gaps",
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |  FROM events),
      |g AS (SELECT user_id,
      |    datediff('day', day,
      |      LEAD(day) OVER (PARTITION BY user_id ORDER BY day)) AS gap
      |  FROM d)
      |SELECT CAST(gap AS INT) AS gap_days, COUNT(*) AS n
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"day")
    Tables.load(spark, dir, "events")
      .select($"user_id", $"ts".cast("date").as("day")).distinct()
      .withColumn("gap", datediff(lead($"day", 1).over(w), $"day"))
      .filter($"gap".isNotNull)
      .groupBy($"gap".as("gap_days"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"gap_days")
  }

  /** ANSI-mode-safe expressions: Spark 4 runs with ANSI on, where a
    * bad cast or division by zero THROWS — `try_cast`/`try_divide`/
    * `try_element_at` are the null-on-failure escape hatches a
    * dirty-data pipeline needs. The fixture parses numbers out of the
    * JSON props bag with a deliberately wrong type mix; DuckDB's
    * TRY_CAST and NULLIF-guarded division replay the semantics.
    */
  val q119_try_funcs: Q = Q(
    "q119_try_funcs",
    """WITH e AS (SELECT event_id, event_type,
      |    TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
      |    TRY_CAST(event_type AS INT) AS ty_int
      |  FROM events WHERE event_id < 500)
      |SELECT event_type,
      |  COUNT(k_int) AS n_parsed,
      |  COUNT(*) - COUNT(ty_int) AS n_unparseable_type,
      |  CAST(SUM(k_int // NULLIF(k_int % 7, 0)) AS BIGINT)
      |    AS sum_guarded_div
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .filter($"event_id" < 500)
      .select($"event_type",
        expr("try_cast(get_json_object(props, '$.k') AS INT)")
          .as("k_int"),
        expr("try_cast(event_type AS INT)").as("ty_int"))
      .groupBy($"event_type")
      .agg(
        count($"k_int").as("n_parsed"),
        (count(lit(1)) - count($"ty_int")).as("n_unparseable_type"),
        sum(expr("k_int DIV nullif(k_int % 7, 0)"))
          .as("sum_guarded_div"))
      .orderBy($"event_type")
  }

  /** Schema-evolution union: `unionByName(allowMissingColumns=true)`
    * aligns two differently-shaped projections by NAME and
    * null-fills the gaps — the ETL merge for a source that grew a
    * column mid-history (DuckDB: `UNION ALL BY NAME`). Positional
    * `union` would silently misalign; this is the safe form.
    */
  val q120_union_evolution: Q = Q(
    "q120_union_evolution",
    """WITH old AS (SELECT o_orderkey AS id, o_orderpriority AS prio
      |  FROM orders WHERE o_orderkey < 100),
      |new AS (SELECT o_orderkey AS id, o_orderstatus AS status,
      |    o_orderpriority AS prio
      |  FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 200),
      |u AS (SELECT * FROM old UNION ALL BY NAME SELECT * FROM new)
      |SELECT prio, COUNT(*) AS n, COUNT(status) AS n_with_status
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val old = orders.filter($"o_orderkey" < 100)
      .select($"o_orderkey".as("id"), $"o_orderpriority".as("prio"))
    val neu = orders
      .filter($"o_orderkey" >= 100 && $"o_orderkey" < 200)
      .select($"o_orderkey".as("id"), $"o_orderstatus".as("status"),
        $"o_orderpriority".as("prio"))
    old.unionByName(neu, allowMissingColumns = true)
      .groupBy($"prio")
      .agg(count(lit(1)).as("n"), count($"status").as("n_with_status"))
      .orderBy($"prio")
  }

  /** The streaming `window()` aggregation executed in BATCH mode
    * (same function, same plan family — Structured Streaming's
    * batch/stream unification) with a DuckDB `time_bucket` oracle:
    * 5-minute tumbling event counts per type. The streaming variant
    * is `StreamingJobs.tumblingHostAgg`; this puts the window
    * function itself behind the hash gate.
    */
  val q121_tumbling_batch: Q = Q(
    "q121_tumbling_batch",
    """SELECT strftime(time_bucket(INTERVAL '5 minutes', ts),
      |    '%Y-%m-%d %H:%M') AS w_start,
      |  event_type, COUNT(*) AS n
      |FROM events WHERE user_id < 20
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .filter($"user_id" < 20)
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm").as("w_start"),
        $"event_type", $"n")
      .orderBy($"w_start", $"event_type")
  }

  /** `session_window()` in batch, cross-checked against the
    * RELATIONAL sessionization formulation (lag → gap flag → cumsum
    * islands, the q50 shape) as its oracle — two entirely different
    * implementations of 10-minute-gap sessions that must agree on
    * every session boundary, count, and duration.
    */
  val q122_session_window_batch: Q = Q(
    "q122_session_window_batch",
    """WITH e AS (SELECT DISTINCT user_id, epoch_ns(ts) // 1000 AS us
      |  FROM events WHERE user_id < 20),
      |l AS (SELECT user_id, us,
      |    LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
      |  FROM e),
      |f AS (SELECT user_id, us,
      |    CASE WHEN prev IS NULL OR us - prev >= 600000000
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM l),
      |s AS (SELECT user_id, us,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f)
      |SELECT user_id, CAST(sid AS BIGINT) AS sid,
      |  COUNT(*) AS n_events,
      |  CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS span_s
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // session_window emits (start, end] bounds; number the sessions
    // per user in start order to align with the islands formulation
    val sessions = Tables.load(spark, dir, "events")
      .filter($"user_id" < 20)
      .select($"user_id", $"ts").distinct()
      .groupBy(session_window($"ts", "10 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        // DIV, not `/`: Column./ is double division and the truncated
        // cast could disagree with the oracle's integer // at the ulp
        expr("(unix_micros(max(ts)) - unix_micros(min(ts))) DIV 1000000")
          .as("span_s"))
    sessions
      .withColumn("sid", row_number().over(
        Window.partitionBy($"user_id").orderBy($"session_window.start")))
      .select($"user_id", $"sid".cast("long"), $"n_events", $"span_s")
      .orderBy($"user_id", $"sid")
  }

  /** Intra-document repetition — the boilerplate/spam quality signal
    * the inter-document dedup family (q43-q46) cannot see: the
    * fraction of each document's 3-gram shingles that are repeats of
    * an earlier shingle in the SAME document. Exact-integer basis
    * points keep the ranking engine-independent. Pure per-row array
    * algebra — zero shuffles before the final sort.
    */
  val q123_intra_doc_repetition: Q = Q(
    "q123_intra_doc_repetition",
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS toks
      |  FROM documents),
      |s AS (SELECT doc_id,
      |    list_transform(generate_series(1, len(toks) - 2),
      |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
      |      AS sh
      |  FROM t WHERE len(toks) >= 3),
      |r AS (SELECT doc_id, len(sh) AS n_shingles,
      |    len(list_distinct(sh)) AS n_distinct
      |  FROM s)
      |SELECT doc_id, n_shingles, n_distinct,
      |  ((n_shingles - n_distinct) * 10000) // n_shingles AS rep_bp
      |FROM r WHERE doc_id < 30
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val toks = lowerTokens($"text")
    val w = greatest(size(toks) - 2, lit(0))
    Tables.load(spark, dir, "documents")
      .filter($"doc_id" < 30)
      .select($"doc_id", explode(arrays_zip(
        slice(toks, lit(1), w), slice(toks, lit(2), w),
        slice(toks, lit(3), w))).as("z"))
      .select($"doc_id",
        concat_ws(" ", $"z.0", $"z.1", $"z.2").as("sh"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct($"sh").as("n_distinct"))
      .select($"doc_id", $"n_shingles", $"n_distinct",
        expr("((n_shingles - n_distinct) * 10000) DIV n_shingles")
          .as("rep_bp"))
      .orderBy($"doc_id")
  }

  /** Gopher-style multi-rule document filter: token count bounds,
    * mean word length band, stopword floor, and symbol-ratio cap —
    * each rule's pass/fail counted per source plus the all-rules keep
    * rate. Ratio thresholds compare scaled integers (`n·100 < m·k`
    * forms), so every verdict is exact in any engine; one scan, one
    * aggregation.
    */
  val q124_quality_rules: Q = Q(
    "q124_quality_rules",
    """WITH f AS (SELECT source,
      |    len(string_split_regex(lower(text), '\s+')) AS n_tok,
      |    len(list_filter(string_split_regex(lower(text), '\s+'),
      |      w -> list_contains(['the','a','of','and','to','in','is','for','on','with'], w))) AS n_stop,
      |    len(replace(text, ' ', '')) AS n_chars,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_sym
      |  FROM documents),
      |r AS (SELECT source,
      |    CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 1 ELSE 0 END AS ok_len,
      |    CASE WHEN n_chars * 10 BETWEEN n_tok * 20 AND n_tok * 120
      |      THEN 1 ELSE 0 END AS ok_wordlen,
      |    CASE WHEN n_stop * 100 >= n_tok * 2 THEN 1 ELSE 0 END AS ok_stop,
      |    CASE WHEN n_sym * 10 <= n_chars THEN 1 ELSE 0 END AS ok_sym
      |  FROM f)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(ok_len) AS BIGINT) AS pass_len,
      |  CAST(SUM(ok_wordlen) AS BIGINT) AS pass_wordlen,
      |  CAST(SUM(ok_stop) AS BIGINT) AS pass_stop,
      |  CAST(SUM(ok_sym) AS BIGINT) AS pass_sym,
      |  CAST(SUM(ok_len * ok_wordlen * ok_stop * ok_sym) AS BIGINT)
      |    AS n_keep
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.TextFunctions.{punctCount, EnStopwords}
    val toks = lowerTokens($"text")
    Tables.loadParallel(spark, dir, "documents")
      .select($"source",
        size(toks).as("n_tok"),
        size(filter(toks, w => w.isin(EnStopwords: _*))).as("n_stop"),
        length(translate($"text", " ", "")).as("n_chars"),
        punctCount($"text").as("n_sym"))
      .select($"source",
        ($"n_tok".between(5, 100000)).cast("int").as("ok_len"),
        ($"n_chars" * 10).between($"n_tok" * 20, $"n_tok" * 120)
          .cast("int").as("ok_wordlen"),
        ($"n_stop" * 100 >= $"n_tok" * 2).cast("int").as("ok_stop"),
        ($"n_sym" * 10 <= $"n_chars").cast("int").as("ok_sym"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ok_len".cast("long")).as("pass_len"),
        sum($"ok_wordlen".cast("long")).as("pass_wordlen"),
        sum($"ok_stop".cast("long")).as("pass_stop"),
        sum($"ok_sym".cast("long")).as("pass_sym"),
        sum(($"ok_len" * $"ok_wordlen" * $"ok_stop" * $"ok_sym")
          .cast("long")).as("n_keep"))
      .orderBy($"source")
  }

  val all: Seq[Q] = Seq(
    q100_pagerank, q101_interval_merge, q102_funnel_sequence,
    q103_incremental_agg, q104_map_funcs, q105_string_funcs,
    q106_array_funcs, q107_null_ordering, q108_percentile_rank,
    q109_zorder, q110_hll_incremental, q111_outliers,
    q112_vocab_encode, q113_bigrams, q114_table_checksum,
    q115_audio_windows, q116_recursive_cte, q117_validate_quarantine,
    q118_lead_gaps, q119_try_funcs, q120_union_evolution,
    q121_tumbling_batch, q122_session_window_batch,
    q123_intra_doc_repetition, q124_quality_rules)
}
