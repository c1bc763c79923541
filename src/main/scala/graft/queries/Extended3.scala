package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.functions.Exact._
import graft.functions.{MisraGries, TextFunctions}
import graft.functions.TextFunctions.{lowerTokens, chunksOfTokens}

/** Round-4 batch: distribution ranks (NTILE / PERCENT_RANK /
  * CUME_DIST), bounded-memory exact heavy hitters, chunk-level
  * boilerplate detection, sliding windows in batch, shingle
  * containment, exact least-squares regression, scaled-integer EWMA,
  * embedding int8 quantization, and hash-priority weighted sampling.
  */
object Extended3 {

  /** Customer balance deciles: NTILE(10) over a TOTAL order (balance,
    * then key — ties must break deterministically or the bucket
    * boundary rows are engine-dependent), rolled up per decile with
    * exact-decimal sums.
    *
    * NO partition-less window: a `ntile(10) OVER (ORDER BY …)` plans
    * WindowExec's "No Partition Defined" path — every row through ONE
    * task, a single-threaded sort in disguise. The global ordinal
    * comes from [[graft.operators.PrefixSum.withOrdinals]] (range
    * partitioning + driver offsets, the two-phase scan), and NTILE is
    * then a PURE FUNCTION of (rank, n): with n = q·10 + rem, the
    * first rem buckets take q+1 rows, the rest q — exactly the SQL
    * standard's bucket sizing, evaluated as integer expressions. The
    * same plan holds whether `customer` has 15 k rows or 15 B
    * (reference window-function labs, `3-spark-fundamentals`).
    */
  val q125_ntile_deciles: Q = Q(
    "q125_ntile_deciles",
    """WITH d AS (SELECT c_acctbal,
      |    ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      |  FROM customer)
      |SELECT decile, COUNT(*) AS n_cust,
      |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val (ranked, n) = graft.operators.PrefixSum.withOrdinals(
      Tables.load(spark, dir, "customer")
        .select($"c_custkey", $"c_acctbal"),
      Seq("c_acctbal", "c_custkey"), "rn")
    // ntile(k): first n%k buckets hold n/k+1 rows, the rest n/k —
    // driver-side integer constants, per-row integer DIV only
    val k = 10L
    val small = n / k
    val big = small + 1
    val rem = n % k
    val cut = rem * big // rank boundary between big and small buckets
    ranked
      .withColumn("decile",
        when($"rn" <= cut, expr(s"(rn - 1) DIV $big + 1"))
          .otherwise(expr(s"$rem + (rn - 1 - $cut) DIV " +
            s"${math.max(small, 1L)} + 1"))
          .cast("int"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_cust"),
        min($"c_acctbal").as("min_bal"),
        max($"c_acctbal").as("max_bal"),
        dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"decile")
  }

  /** Supplier balance distribution position: PERCENT_RANK and
    * CUME_DIST over the same total order. Both are ratios of small
    * exact integers ((rank−1)/(n−1), rank/n) evaluated as one IEEE
    * division — bit-identical in any engine. Like q125, the rank
    * comes from [[graft.operators.PrefixSum.withOrdinals]]' two-phase
    * scan, never a partition-less window: under a unique total order
    * PERCENT_RANK and CUME_DIST are pure functions of (row_number, n),
    * and n rides along free as the scan's last offset.
    */
  val q126_dist_ranks: Q = Q(
    "q126_dist_ranks",
    """SELECT s_suppkey, s_acctbal,
      |  percent_rank() OVER (ORDER BY s_acctbal, s_suppkey) AS pr,
      |  cume_dist() OVER (ORDER BY s_acctbal, s_suppkey) AS cd
      |FROM supplier ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val (ranked, n) = graft.operators.PrefixSum.withOrdinals(
      Tables.load(spark, dir, "supplier")
        .select($"s_suppkey", $"s_acctbal"),
      Seq("s_acctbal", "s_suppkey"), "rn")
    // (rn−1)/(n−1) and rn/n as ONE IEEE division each — the exact
    // arithmetic percent_rank/cume_dist perform; n = 1 degenerates to
    // percent_rank's defined 0.0 (never 0/0)
    ranked.select($"s_suppkey", $"s_acctbal",
        (if (n <= 1L) lit(0.0)
         else ($"rn" - 1L).cast("double") / lit((n - 1L).toDouble))
          .as("pr"),
        ($"rn".cast("double") / lit(n.toDouble)).as("cd"))
      .orderBy($"s_suppkey")
  }

  /** EXACT heavy hitters (tokens above 1% corpus frequency) in two
    * bounded-memory passes: a [[graft.functions.MisraGries]] summary
    * (capacity 512 ⇒ candidates ⊇ every token above n/513 — a 5×
    * margin under the 1% threshold) finds ≤ 512 candidates without
    * ever materializing the vocabulary, then an exact count of ONLY
    * those candidates applies the real threshold. The oracle is the
    * direct full-vocabulary GROUP BY — feasible at sf, impossible at
    * 100 TB, which is the point: the answers agree because pass-1
    * candidates are a guaranteed superset.
    */
  val q127_heavy_hitters: Q = Q(
    "q127_heavy_hitters",
    OracleSql.HeavyHitterOracle) { (spark, dir) =>
    import spark.implicits._
    // both passes read the exploded tokens; checkpoint so the corpus
    // tokenizes once (locally — at 100 TB you re-read instead and each
    // pass stays bounded-memory)
    val toks = Tables.loadParallel(spark, dir, "documents")
      .select(explode(lowerTokens($"text")).as("tok"))
      .transform(Barrier(_))
    val total = toks.count()
    val cands: Seq[String] = toks
      .agg(MisraGries.candidates(512)($"tok").as("c"))
      .head().getSeq[String](0)
    toks.filter($"tok".isin(cands: _*))
      .groupBy($"tok")
      .agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * 100 > total)
      .orderBy($"cnt".desc, $"tok")
  }

  /** Chunk-level boilerplate census: documents split into
    * non-overlapping 8-token chunks (the "line" unit this corpus has —
    * reusing q56's chunker), chunk document-frequency across the
    * corpus, and per-document counts of chunks shared by ≥ 3 docs —
    * the removal signal line-dedup pipelines (CCNet-style) apply
    * before training. The chunk→df join shuffles on the chunk text on
    * both sides — co-partitioned, no broadcast needed at any scale.
    */
  val q128_chunk_boilerplate: Q = Q(
    "q128_chunk_boilerplate",
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS toks FROM documents),
      |e AS (SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks), 8),
      |      j -> array_to_string(list_slice(toks, j, j + 7), ' ')))
      |      AS chunk
      |  FROM t),
      |d AS (SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM e GROUP BY 1)
      |SELECT e.doc_id, COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_boiler
      |FROM e JOIN d USING (chunk)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val chunks = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id",
        explode(graft.functions.Let(lowerTokens($"text"))(t =>
          chunksOfTokens(t, chunkSize = 8, overlap = 0)))
          .as("chunk"))
      .transform(Barrier(_)) // df agg and per-doc rollup both read it
    val df = chunks.groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("df"))
    chunks.join(df, "chunk")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"df" >= 3, 1L).otherwise(0L)).as("n_boiler"))
      .orderBy($"doc_id")
  }

  /** Sliding (hopping) windows in batch: 10-minute windows every
    * 5 minutes — each event lands in width/slide = 2 windows, which
    * Spark's `window()` generates directly (epoch-aligned starts).
    * The oracle replays the alignment arithmetic: the two containing
    * window starts are es−es%300 and that minus 300. Completes the
    * q121 (tumbling) / q122 (session) batch-window family.
    */
  val q129_sliding_window: Q = Q(
    "q129_sliding_window",
    """WITH e AS (SELECT epoch_ns(ts) // 1000000000 AS es, event_type,
      |    user_id FROM events),
      |x AS (SELECT es - (es % 300) AS ws, event_type, user_id FROM e
      |  UNION ALL
      |  SELECT es - (es % 300) - 300, event_type, user_id FROM e)
      |SELECT ws, event_type, COUNT(*) AS cnt,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"),
        $"event_type")
      .agg(count(lit(1)).as("cnt"),
        countDistinct($"user_id").as("n_users"))
      .select($"w.start".cast("long").as("ws"), $"event_type",
        $"cnt", $"n_users")
      .orderBy($"ws", $"event_type")
  }

  /** Shingle CONTAINMENT (|A∩B| / |A|) of probe docs in the corpus —
    * the one-sided overlap measure that catches document INCLUSION
    * (quote, excerpt, superset page), which symmetric Jaccard dilutes
    * toward 0 as the containing document grows. Exact basis points
    * over sorted shingle arrays scored by the codegen'd
    * [[graft.plans.SortedIntersectCount]] merge walk; the bounded
    * probe side broadcasts, so the corpus never shuffles.
    */
  val q130_containment: Q = Q(
    "q130_containment",
    s"""WITH s AS (SELECT doc_id, ${OracleSql.SortedShingleSql} AS sh FROM documents),
      |p AS (SELECT doc_id AS id_probe, sh AS sh_p FROM s
      |  WHERE doc_id < 10 AND len(sh) > 0)
      |SELECT id_probe, s.doc_id AS id_doc,
      |  (len(list_intersect(sh_p, s.sh)) * 10000) // len(sh_p)
      |    AS cont_bp
      |FROM p JOIN s ON s.doc_id <> id_probe
      |WHERE (len(list_intersect(sh_p, s.sh)) * 10000) // len(sh_p)
      |  >= 700
      |ORDER BY cont_bp DESC, id_probe, id_doc""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", TextFunctions.sortedShingles($"text").as("sh"))
      .transform(Barrier(_)) // probe and corpus sides share the staging
    val probes = s.filter($"doc_id" < 10 && size($"sh") > 0)
      .select($"doc_id".as("id_probe"), $"sh".as("sh_p"))
    s.join(broadcast(probes), $"doc_id" =!= $"id_probe")
      .select($"id_probe", $"doc_id".as("id_doc"),
        graft.plans.SortedIntersectCount($"sh_p", $"sh").as("_int"),
        size($"sh_p").as("_np"))
      .select($"id_probe", $"id_doc",
        expr("(_int * 10000) DIV _np").as("cont_bp"))
      .filter($"cont_bp" >= 700)
      .orderBy($"cont_bp".desc, $"id_probe", $"id_doc")
  }

  /** Exact least-squares fit (slope + intercept) of extended price
    * against quantity per (returnflag, linestatus): every moment
    * (Σx, Σy, Σxy, Σx²) is an exact scale-0 decimal (cents for the
    * price side), the closed-form numerator/denominator stay exact,
    * and only the final two divisions run in double — the same two
    * IEEE operations in any engine. The regr_slope/regr_intercept
    * analytics surface without float-summation drift.
    */
  val q131_regr_slope: Q = Q(
    "q131_regr_slope",
    """WITH t AS (SELECT l_returnflag, l_linestatus,
      |    CAST(l_quantity AS HUGEINT) AS x,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
      |      AS y
      |  FROM lineitem),
      |a AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
      |  FROM t GROUP BY 1, 2)
      |SELECT l_returnflag, l_linestatus, n,
      |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
      |    AS slope_cents,
      |  (CAST(sy AS DOUBLE)
      |    - (CAST(n*sxy - sx*sy AS DOUBLE)
      |       / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / n
      |    AS intercept_cents
      |FROM a ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val moments = Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_linestatus",
        $"l_quantity".cast("decimal(18,0)").as("x"),
        (money($"l_extendedprice") * 100).cast("decimal(18,0)").as("y"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
    val num = ($"n" * $"sxy" - $"sx" * $"sy").cast("double")
    val den = ($"n" * $"sxx" - $"sx" * $"sx").cast("double")
    val slope = num / den
    moments.select($"l_returnflag", $"l_linestatus", $"n",
        slope.as("slope_cents"),
        (($"sy".cast("double") - slope * $"sx".cast("double")) / $"n")
          .as("intercept_cents"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Per-user EWMA of event values (α = 1/4) in scaled-integer
    * arithmetic: cents fold left-to-right as
    * `acc' = (x + 3·acc) DIV 4` — truncating integer steps, so the
    * smoothed value is bit-identical in any engine and under any
    * retry, where a float EWMA drifts at the ulp per step. Sequence
    * order is total (event time µs, then event_id); the fold is a
    * per-row array aggregate — one shuffle for the collect, zero for
    * the smoothing.
    */
  val q132_ewma: Q = Q(
    "q132_ewma",
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |s AS (SELECT user_id, COUNT(*) AS n_events,
      |    list(cents ORDER BY tus, event_id) AS seq
      |  FROM e GROUP BY 1)
      |SELECT user_id, n_events,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), seq),
      |    (a, x) -> (x + 3*a) // 4) AS ewma_cents
      |FROM s ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id",
        (money($"value") * 100).cast("long").as("cents"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        array_sort(collect_list(struct($"ts", $"event_id", $"cents")))
          .as("seq"))
      .select($"user_id", $"n_events",
        expr("aggregate(transform(seq, s -> s.cents), CAST(0 AS BIGINT), " +
          "(acc, x) -> (x + 3*acc) DIV 4)").as("ewma_cents"))
      .orderBy($"user_id")
  }

  /** Embedding int8 scalar quantization (per-vector min/max range →
    * 0..255 codes): the train-time compression pass before ANN
    * serving. Codes are `floor((v−min)·255/(max−min))` — float→double
    * conversion is exact and every step is one IEEE operation, so the
    * codes (and their integer checksum here) are engine-independent
    * without any decimal staging. Pure per-row array algebra: zero
    * shuffles before the final sort.
    */
  val q133_quantize_int8: Q = Q(
    "q133_quantize_int8",
    """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims,
      |  CAST(list_min(embedding) AS DOUBLE) AS vmin,
      |  CAST(list_max(embedding) AS DOUBLE) AS vmax,
      |  CAST(CASE WHEN CAST(list_max(embedding) AS DOUBLE)
      |      > CAST(list_min(embedding) AS DOUBLE) THEN
      |    list_sum(list_transform(embedding, v ->
      |      LEAST(CAST(FLOOR((CAST(v AS DOUBLE)
      |          - CAST(list_min(embedding) AS DOUBLE)) * 255
      |        / (CAST(list_max(embedding) AS DOUBLE)
      |          - CAST(list_min(embedding) AS DOUBLE))) AS BIGINT),
      |        255)))
      |  ELSE 0 END AS BIGINT) AS code_sum
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.loadParallel(spark, dir, "embeddings")
      .select($"vec_id", $"embedding",
        array_min($"embedding").cast("double").as("mn"),
        array_max($"embedding").cast("double").as("mx"))
      .select($"vec_id",
        size($"embedding").cast("long").as("n_dims"),
        $"mn".as("vmin"), $"mx".as("vmax"),
        when($"mx" > $"mn",
          aggregate(
            transform($"embedding", v =>
              least(floor((v.cast("double") - $"mn") * 255
                / ($"mx" - $"mn")), lit(255L))),
            lit(0L), (acc, x) => acc + x))
          .otherwise(0L).as("code_sum"))
      .orderBy($"vec_id")
  }

  /** Hash-priority weighted sampling: 10 docs per source, selected by
    * the smallest `md5₆₀(doc_id) DIV (n_chars+1)` priority — longer
    * documents draw proportionally smaller priorities, so selection
    * is weighted toward them, yet fully deterministic (never
    * `rand()`, the reference's nondeterministic-sampling lesson) and
    * stable under reprocessing — the property a training-mix sampler
    * must have for reproducible data recipes. Per-source top-k rides
    * the rank-limit pushdown (WindowGroupLimit), never a global sort.
    */
  val q134_weighted_sample: Q = Q(
    "q134_weighted_sample",
    """WITH p AS (SELECT source, doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      // (n_chars + 1) AS priority
      |  FROM documents),
      |r AS (SELECT source, doc_id, priority,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY priority, doc_id) AS rn
      |  FROM p)
      |SELECT source, doc_id, priority, rn FROM r WHERE rn <= 10
      |ORDER BY source, rn""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"source")
      .orderBy($"priority", $"doc_id")
    Tables.load(spark, dir, "documents")
      .select($"source", $"doc_id",
        graft.plans.Md5PrefixLong($"doc_id".cast("string")).as("_h"),
        ($"n_chars" + 1).as("_w"))
      .select($"source", $"doc_id", expr("_h DIV _w").as("priority"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .orderBy($"source", $"rn")
  }

  private val q135Sql =
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |WHERE c_custkey <= 100
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  /** Correlated LATERAL subquery — top-2 orders per customer via an
    * ORDER BY … LIMIT inside the lateral (the SQL-surface twin of
    * q25's aggregator top-k). Catalyst decorrelates it into a ranked
    * join rather than re-executing the subquery per outer row — the
    * shape that survives a fact-scale outer side.
    */
  val q135_lateral_topk: Q = Q("q135_lateral_topk", q135Sql) {
    (spark, dir) =>
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(q135Sql)
  }

  private val q136Sql =
    """SELECT p_brand, COUNT(*) AS n,
      |  CAST(MIN(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS min_price
      |FROM part
      |WHERE CAST(p_retailprice AS DECIMAL(18,2))
      |    * (SELECT COUNT(*) FROM part)
      |  > (SELECT SUM(CAST(p_retailprice AS DECIMAL(18,2))) FROM part)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Scalar subqueries in the predicate: parts priced above the
    * corpus mean, compared in exact cross-multiplied decimals
    * (`price · n > Σprice` — never a decimal AVG, whose result scale
    * and rounding are engine-specific). Both scalars broadcast as
    * one-row subquery results.
    */
  val q136_scalar_subquery: Q = Q("q136_scalar_subquery", q136Sql) { (spark, dir) =>
    Tables.load(spark, dir, "part").createOrReplaceTempView("part")
    spark.sql(q136Sql)
  }

  /** PERCENTILE_DISC quartiles per return flag — the discrete cousin
    * of q62/q108's continuous quantiles: the result is an ACTUAL data
    * element (smallest value whose cume_dist ≥ p), so no
    * interpolation arithmetic exists to drift; the per-row
    * decimal→double staging is exact-rationally rounded once in
    * either engine (cents ≪ 2⁵³).
    *
    * Computed by [[graft.operators.Percentiles.exactDisc]]
    * (distributed rank selection) rather than Spark's builtin
    * `percentile_disc` aggregate, which buffers EVERY group value in
    * one task — measured ~5× slower here at sf0.1 and an OOM at a
    * 10¹²-row group.
    */
  val q137_percentile_disc: Q = Q(
    "q137_percentile_disc",
    """SELECT l_returnflag,
      |  CAST(quantile_disc(CAST(l_extendedprice AS DECIMAL(18,2)), 0.25)
      |    AS DOUBLE) AS p25,
      |  CAST(quantile_disc(CAST(l_extendedprice AS DECIMAL(18,2)), 0.50)
      |    AS DOUBLE) AS p50,
      |  CAST(quantile_disc(CAST(l_extendedprice AS DECIMAL(18,2)), 0.75)
      |    AS DOUBLE) AS p75
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag",
        money($"l_extendedprice").cast("double").as("price"))
    graft.operators.Percentiles
      .exactDisc(li, "l_returnflag", "price", Seq(0.25, 0.5, 0.75))
      .groupBy($"l_returnflag")
      .agg(min(when($"p" === 0.25, $"value")).as("p25"),
        min(when($"p" === 0.5, $"value")).as("p50"),
        min(when($"p" === 0.75, $"value")).as("p75"))
      .orderBy($"l_returnflag")
  }

  /** FIRST_VALUE / NTH_VALUE / LAST_VALUE over the full partition
    * frame — per-customer first, second, and latest order in one
    * windowed pass (completes the W-family offset functions beside
    * q21's LAG and q118's LEAD). The frame must be explicit: the
    * default RANGE … CURRENT ROW would silently make LAST_VALUE mean
    * "current row".
    */
  val q138_nth_value: Q = Q(
    "q138_nth_value",
    """WITH w AS (SELECT o_custkey,
      |    first_value(o_orderkey) OVER win AS first_ok,
      |    nth_value(o_orderkey, 2) OVER win AS second_ok,
      |    last_value(o_orderkey) OVER win AS last_ok,
      |    COUNT(*) OVER win AS n_orders
      |  FROM orders
      |  WINDOW win AS (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |SELECT DISTINCT o_custkey, first_ok, second_ok, last_ok, n_orders
      |FROM w ORDER BY o_custkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val win = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(spark, dir, "orders")
      .select($"o_custkey",
        first($"o_orderkey").over(win).as("first_ok"),
        nth_value($"o_orderkey", 2).over(win).as("second_ok"),
        last($"o_orderkey").over(win).as("last_ok"),
        count(lit(1)).over(win).as("n_orders"))
      .distinct()
      .orderBy($"o_custkey")
  }

  /** One Lloyd iteration of k-means, exactly: cosine assignment to
    * the 8 seed centroids (q48's operator), then the centroid UPDATE
    * step with per-dimension means in fixed-point (floor(v·10⁶)
    * micro-units summed as longs, one truncating DIV) — so the new
    * centroids are bit-identical in any engine and across retries,
    * which float means cannot guarantee (summation order). The
    * training-clustering step data-curation pipelines run on
    * embeddings. The oracle replays assignment AND update in SQL.
    */
  val q139_kmeans_update: Q = Q(
    "q139_kmeans_update",
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce
      |  FROM embeddings WHERE vec_id < 8),
      |scored AS (SELECT vec_id, centroid_id,
      |    ${OracleSql.cosine("embedding", "ce")}
      |    AS cos
      |  FROM embeddings, c),
      |a AS (SELECT vec_id, centroid_id FROM (
      |  SELECT vec_id, centroid_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, centroid_id) AS rn
      |  FROM scored) t WHERE rn = 1),
      |m AS (SELECT a.centroid_id, j.dim,
      |    CAST(FLOOR(CAST(e.embedding[j.dim + 1] AS DOUBLE) * 1000000)
      |      AS BIGINT) AS q
      |  FROM a JOIN embeddings e USING (vec_id)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim) j)
      |SELECT centroid_id, dim,
      |  CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT)
      |    AS comp_fp,
      |  COUNT(*) AS n_members
      |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid"))
    graft.operators.Similarity.ivfAssign(emb, centroids)
      .select($"vec_id", $"centroid_id")
      .join(emb, "vec_id")
      .select($"centroid_id",
        posexplode($"embedding").as(Seq("dim", "v")))
      .groupBy($"centroid_id", $"dim")
      .agg(sum(floor($"v".cast("double") * 1000000)).as("s"),
        count(lit(1)).as("n_members"))
      // FLOOR of the IEEE double quotient, NOT integer DIV: sums go
      // negative and DuckDB's // floors while Spark's DIV truncates —
      // the double path is the one both engines compute identically
      // (|s| ≪ 2⁵³ so the division is exact-rationally rounded once)
      .select($"centroid_id", $"dim",
        floor($"s".cast("double") / $"n_members").as("comp_fp"),
        $"n_members")
      .orderBy($"centroid_id", $"dim")
  }

  val all: Seq[Q] = Seq(
    q125_ntile_deciles, q126_dist_ranks, q127_heavy_hitters,
    q128_chunk_boilerplate, q129_sliding_window, q130_containment,
    q131_regr_slope, q132_ewma, q133_quantize_int8,
    q134_weighted_sample, q135_lateral_topk, q136_scalar_subquery,
    q137_percentile_disc, q138_nth_value, q139_kmeans_update)
}
