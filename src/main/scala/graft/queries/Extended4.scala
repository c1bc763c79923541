package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.functions.Exact._
import graft.operators.{BloomJoin, Graph, Scd}

/** Round-5 batch: bloom-pruned semi joins, bounded-hop BFS, SCD
  * point-in-time lookup, NOT IN null semantics (null-aware anti
  * join), exact linear interpolation of gaps, generator outer
  * semantics, JSON build/parse round-trip, multi-aggregate pivot,
  * time-weighted averages, and median absolute deviation.
  */
object Extended4 {

  /** Bloom-pruned semi join ([[graft.operators.BloomJoin]]): orders of
    * BUILDING-segment customers, revenue by year. The bloom pass
    * discards non-member fact rows inside the scan's codegen stage
    * BEFORE any exchange (the dim's key set rides along as ~10 bits
    * per key); the exact semi join then removes the ≤1% false
    * positives, so the result — and the oracle — is exactly the plain
    * semi join. At 100 TB the pruned shuffle is the win; here the
    * oracle proves the pruning is invisible to correctness.
    */
  val q140_bloom_semi: Q = Q(
    "q140_bloom_semi",
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |  WHERE c_mktsegment = 'BUILDING')
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val dim = Tables.load(spark, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING")
    // sizing: an overestimate only costs bits (~1.2 KB per 1k keys),
    // so a cheap count on the already-filtered dim is exact and safe
    val expected = math.max(dim.count(), 1L)
    BloomJoin.semiJoin(Tables.load(spark, dir, "orders"), dim,
        "o_custkey", "c_custkey", expected)
      .groupBy(year($"o_orderdate").as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        dsum($"o_totalprice").as("revenue"))
      .orderBy($"yr")
  }

  /** Bounded-hop multi-source BFS ([[graft.operators.Graph.boundedHops]])
    * over the bipartite part↔supplier co-supply graph (part ids even,
    * supplier ids odd): minimum hop count from the 3 seed suppliers,
    * capped at 3 hops. Frontier propagation visits each vertex once —
    * first arrival is the minimum distance — while the recursive-CTE
    * oracle re-derives every (vertex, depth) pair and takes MIN(d):
    * two independent formulations of shortest hops.
    */
  val q141_bounded_hops: Q = Q(
    "q141_bounded_hops",
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT CAST(l_partkey * 2 AS BIGINT) AS src,
      |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst FROM lineitem
      |  UNION ALL
      |  SELECT DISTINCT CAST(l_suppkey * 2 + 1 AS BIGINT),
      |    CAST(l_partkey * 2 AS BIGINT) FROM lineitem),
      |r(id, d) AS (
      |  SELECT CAST(s_suppkey * 2 + 1 AS BIGINT), 0 FROM supplier
      |  WHERE s_suppkey <= 3
      |  UNION
      |  SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id
      |  WHERE r.d < 3)
      |SELECT id, CAST(MIN(d) AS INT) AS hops FROM r
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val pairs = Tables.load(spark, dir, "lineitem")
      .select(($"l_partkey" * 2).cast("long").as("p"),
        ($"l_suppkey" * 2 + 1).cast("long").as("s"))
      .distinct()
    val edges = pairs.select($"p".as("src"), $"s".as("dst"))
      .unionByName(pairs.select($"s".as("src"), $"p".as("dst")))
    val seeds = Tables.load(spark, dir, "supplier")
      .filter($"s_suppkey" <= 3)
      .select(($"s_suppkey" * 2 + 1).cast("long").as("id"))
    Graph.boundedHops(edges, seeds, maxHops = 3)
      .select($"id", $"hops".cast("int").as("hops"))
      .orderBy($"id")
  }

  /** q142/q163's SCD rows over the daily classes `d`: one
    * `scd(user_id, activity_class, start_day, end_day)` row per streak.
    */
  private val ScdCtes =
    s"""${OracleSql.ScdStreakCtes},
      |scd AS (
      |  SELECT user_id, activity_class,
      |    MIN(day) AS start_day, MAX(day) AS end_day
      |  FROM s GROUP BY user_id, activity_class, streak)""".stripMargin

  /** SCD point-in-time (AS OF) lookup: the q30 backfilled type-2 table
    * filtered to the rows whose [start_day, end_day] interval covers
    * the as-of date — "what was every user's activity class on
    * Jan 15". The standard dimensional-join access path of an SCD
    * table (reference `players_scd` labs): at scale the interval
    * filter prunes before any join, and an equality-partitioned fact
    * join on user_id follows unchanged.
    */
  val q142_scd_pit: Q = Q(
    "q142_scd_pit",
    s"""WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CASE WHEN COUNT(*) >= 3 THEN 'active' ELSE 'light' END
      |      AS activity_class
      |  FROM events GROUP BY 1, 2),
      |$ScdCtes
      |SELECT user_id, activity_class, start_day, end_day FROM scd
      |WHERE start_day <= DATE '2024-01-15' AND end_day >= DATE '2024-01-15'
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val daily = Tables.load(spark, dir, "events")
      .groupBy($"user_id", $"ts".cast("date").as("day"))
      .agg(when(count(lit(1)) >= 3, "active").otherwise("light")
        .as("activity_class"))
    Scd.backfill(daily, "user_id", "day", "activity_class")
      .filter($"start_day" <= lit("2024-01-15").cast("date") &&
        $"end_day" >= lit("2024-01-15").cast("date"))
      .select($"user_id", $"activity_class", $"start_day", $"end_day")
      .orderBy($"user_id")
  }

  /** NOT IN versus NOT EXISTS under NULLs — the three-valued-logic
    * trap, pinned by both engines: a NULL anywhere in a NOT IN
    * subquery makes EVERY row's membership test UNKNOWN (count 0),
    * while NOT EXISTS is unaffected. Spark plans the NOT IN as a
    * null-aware anti join (BroadcastHashJoin … NAAJ) — the dedicated
    * physical shape this semantics needs; the clean-subquery NOT IN
    * and the NOT EXISTS agree, and the NULL-laced NOT IN returns 0.
    */
  val q143_not_in_nulls: Q = {
    val sql =
      """SELECT
        |  (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
        |    (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
        |    AS n_not_in,
        |  (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
        |    (SELECT CASE WHEN o_orderstatus = 'F' THEN o_custkey END
        |     FROM orders)) AS n_not_in_null,
        |  (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |     AND o.o_orderstatus = 'F')) AS n_not_exists""".stripMargin
    Q("q143_not_in_nulls", sql) { (spark, dir) =>
      Tables.load(spark, dir, "customer")
        .createOrReplaceTempView("customer")
      Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
      spark.sql(sql)
    }
  }

  /** Linear interpolation of gaps in a daily per-user series, in
    * exact integer arithmetic: missing days get
    * `(prev·(next_day−d) + next·(d−prev_day)) DIV (next_day−prev_day)`
    * cents — time-weighted between the flanking observations (the
    * numeric cousin of q80's forward fill). Both neighbors come from
    * one windowed pass (IGNORE NULLS running frames in both
    * directions); all operands are non-negative integers, so
    * truncating division is engine-identical.
    */
  val q144_interpolate: Q = Q(
    "q144_interpolate",
    """WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      |  FROM d GROUP BY 1),
      |cal AS (SELECT user_id,
      |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
      |      AS day
      |  FROM span),
      |j AS (SELECT cal.user_id, cal.day, d.cents
      |  FROM cal LEFT JOIN d USING (user_id, day)),
      |w AS (SELECT user_id, day, cents,
      |    last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY day ROWS UNBOUNDED PRECEDING) AS pc,
      |    last_value(CASE WHEN cents IS NOT NULL THEN day END
      |      IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY day ROWS UNBOUNDED PRECEDING) AS pd,
      |    first_value(cents IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY day ROWS BETWEEN CURRENT ROW AND
      |      UNBOUNDED FOLLOWING) AS nc,
      |    first_value(CASE WHEN cents IS NOT NULL THEN day END
      |      IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY day ROWS BETWEEN CURRENT ROW AND
      |      UNBOUNDED FOLLOWING) AS nd
      |  FROM j)
      |SELECT user_id, day, cents IS NOT NULL AS observed,
      |  CAST(CASE WHEN cents IS NOT NULL THEN cents
      |    ELSE (pc * (nd - day) + nc * (day - pd)) // (nd - pd) END
      |    AS BIGINT) AS interp_cents
      |FROM w ORDER BY user_id, day""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val daily = Tables.load(spark, dir, "events")
      .filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts".cast("date").as("day"))
      .agg(sum((money($"value") * 100).cast("long")).as("cents"))
    val cal = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id",
        explode(sequence($"d0", $"d1", expr("interval 1 day")))
          .as("day"))
    val wPrev = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    cal.join(daily, Seq("user_id", "day"), "left")
      .select($"user_id", $"day", $"cents",
        last($"cents", ignoreNulls = true).over(wPrev).as("pc"),
        last(when($"cents".isNotNull, $"day"), ignoreNulls = true)
          .over(wPrev).as("pd"),
        first($"cents", ignoreNulls = true).over(wNext).as("nc"),
        first(when($"cents".isNotNull, $"day"), ignoreNulls = true)
          .over(wNext).as("nd"))
      .withColumn("_num", $"pc" * datediff($"nd", $"day") +
        $"nc" * datediff($"day", $"pd"))
      .withColumn("_den", datediff($"nd", $"pd").cast("long"))
      .select($"user_id", $"day", $"cents".isNotNull.as("observed"),
        when($"cents".isNotNull, $"cents")
          .otherwise(expr("_num DIV _den")).as("interp_cents"))
      .orderBy($"user_id", $"day")
  }

  /** Generator OUTER semantics: `posexplode_outer` keeps a parent row
    * with NULL position/element when its array is empty — the LEFT
    * JOIN LATERAL of generators (a plain explode silently DROPS those
    * documents, the classic row-loss bug in token pipelines). The
    * 'qu'-prefixed token filter makes ~20% of the arrays empty, so
    * both branches are exercised.
    */
  val q145_explode_outer: Q = Q(
    "q145_explode_outer",
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x LIKE 'qu%') AS qs
      |  FROM documents WHERE doc_id < 200)
      |SELECT t.doc_id, u.pos, u.tok
      |FROM t LEFT JOIN LATERAL (
      |  SELECT CAST(generate_subscripts(qs, 1) - 1 AS INT) AS pos,
      |    unnest(qs) AS tok) u ON true
      |ORDER BY doc_id, pos""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .filter($"doc_id" < 200)
      .select($"doc_id",
        filter(graft.functions.TextFunctions.lowerTokens($"text"),
          t => t.like("qu%")).as("qs"))
      .select($"doc_id", posexplode_outer($"qs").as(Seq("pos", "tok")))
      .orderBy($"doc_id", $"pos")
  }

  /** JSON build + parse round-trip: `to_json(struct(…))` serializes
    * (key order = struct order, no whitespace — reproduced
    * byte-identically by the oracle's string concat), `from_json`
    * parses the props bag through an explicit schema (the structured
    * cousin of q8's path extraction). NULL-keyed rows are filtered
    * first: `to_json` omits null fields, which no concat can mimic.
    */
  val q146_json_roundtrip: Q = Q(
    "q146_json_roundtrip",
    """WITH j AS (SELECT event_type,
      |    '{"u":' || user_id || ',"t":"' || event_type || '"}' AS jdoc,
      |    CAST(json_extract_string(props, '$.k') AS INT) AS k
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL)
      |SELECT event_type, COUNT(*) AS n, MIN(jdoc) AS sample_doc,
      |  CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.loadParallel(spark, dir, "events")
      .filter($"user_id".isNotNull && $"event_type".isNotNull)
      .select($"event_type",
        to_json(struct($"user_id".as("u"), $"event_type".as("t")))
          .as("jdoc"),
        from_json($"props",
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), min($"jdoc").as("sample_doc"),
        sum($"k").as("sum_k"))
      .orderBy($"event_type")
  }

  /** Multi-aggregate pivot: order count AND exact revenue per
    * priority × year, pivoted to one row per priority (two measures
    * per pivot value — Spark names the columns `{value}_{agg alias}`,
    * renamed here to match the oracle's conditional aggregates).
    * Empty count cells are NULL from a pivot but 0 from SUM(CASE) —
    * coalesced explicitly.
    */
  val q147_pivot_multi: Q = {
    val years = 1995 to 1998
    val aggSqls = years.map { y =>
      s"""  CAST(COALESCE(SUM(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = $y
         |    THEN 1 END), 0) AS BIGINT) AS n_$y,
         |  CAST(SUM(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = $y
         |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         |    AS rev_$y""".stripMargin
    }.mkString(",\n")
    Q("q147_pivot_multi",
      s"""SELECT o_orderpriority,\n$aggSqls
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val pivoted = Tables.load(spark, dir, "orders")
        .groupBy($"o_orderpriority")
        .pivot(year($"o_orderdate"), years.map(Integer.valueOf))
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("rev"))
      years.foldLeft(pivoted) { (df, y) =>
        df.withColumn(s"n_$y", coalesce(col(s"${y}_n"), lit(0L)))
          .withColumn(s"rev_$y", col(s"${y}_rev"))
          .drop(s"${y}_n", s"${y}_rev")
      }.orderBy($"o_orderpriority")
    }
  }

  /** Time-weighted average event value per user: each observation
    * holds until the next one (LEAD over a TOTAL order — event time
    * µs then event_id, so tie handling is engine-identical), weighted
    * by its holding duration in µs. All-integer: cents × µs products
    * summed as longs, one truncating division on non-negative
    * operands. The irregular-sampling average a last-observation-
    * carried-forward series needs (plain AVG over-weights bursts).
    */
  val q148_time_weighted: Q = Q(
    "q148_time_weighted",
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus,
      |    event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |w AS (SELECT user_id, cents, tus,
      |    lead(tus) OVER (PARTITION BY user_id
      |      ORDER BY tus, event_id) AS ntus
      |  FROM e)
      |SELECT user_id,
      |  CAST(SUM(cents * (ntus - tus)) AS BIGINT) AS weighted_sum,
      |  CAST(SUM(ntus - tus) AS BIGINT) AS span_us,
      |  CAST(SUM(cents * (ntus - tus)) // SUM(ntus - tus) AS BIGINT)
      |    AS twa_cents
      |FROM w WHERE ntus IS NOT NULL GROUP BY 1
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    Tables.load(spark, dir, "events")
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id",
        (money($"value") * 100).cast("long").as("cents"))
      .withColumn("ntus", lead($"tus", 1).over(w))
      .filter($"ntus".isNotNull)
      .groupBy($"user_id")
      .agg(sum($"cents" * ($"ntus" - $"tus")).as("weighted_sum"),
        sum($"ntus" - $"tus").as("span_us"))
      .select($"user_id", $"weighted_sum", $"span_us",
        expr("weighted_sum DIV span_us").as("twa_cents"))
      .orderBy($"user_id")
  }

  /** Median absolute deviation (the robust dispersion measure quality
    * filters prefer over stddev — one wild outlier moves MAD by at
    * most one rank step). Doubled-integer staging keeps BOTH
    * percentile interpolations on exact integers: the median of cents
    * can land on .5, so deviations are computed against 2·median
    * (always integral) and halved only at the very end (an exact
    * binary operation). Group-size caveat: `percentile` buffers each
    * group in one task — bounded here by event_type cardinality; the
    * fact-scale path is [[graft.operators.Percentiles.exactCont]].
    */
  val q149_mad: Q = Q(
    "q149_mad",
    """WITH e AS (SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |m AS (SELECT event_type,
      |    CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS med2
      |  FROM e GROUP BY 1),
      |d AS (SELECT e.event_type, m.med2,
      |    ABS(2 * e.cents - m.med2) AS dev2
      |  FROM e JOIN m USING (event_type))
      |SELECT event_type,
      |  CAST(MIN(med2) AS DOUBLE) / 2 AS median_cents,
      |  quantile_cont(dev2, 0.5) / 2 AS mad_cents
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val e = Tables.load(spark, dir, "events")
      .select($"event_type", (money($"value") * 100).cast("long")
        .as("cents"))
    val m = e.groupBy($"event_type")
      .agg((expr("percentile(cents, 0.5)") * 2).cast("long").as("med2"))
    e.join(m, "event_type")
      .select($"event_type", $"med2",
        abs($"cents" * 2 - $"med2").as("dev2"))
      .groupBy($"event_type")
      .agg((min($"med2").cast("double") / 2).as("median_cents"),
        (expr("percentile(dev2, 0.5)") / 2).as("mad_cents"))
      .orderBy($"event_type")
  }

  /** CDC changelog apply ([[graft.operators.Upsert.applyChangelog]]):
    * a deterministic I/U/D changelog derived from the customer table
    * (deletes for key%17=0, updates for 1–3, inserts for 4) applied
    * as one anti join + one union — the MERGE INTO shape, and the
    * inverse of q81's snapshotDiff (round-trip property in
    * `DiffSpec`). The oracle replays the same relational algebra.
    */
  val q150_cdc_apply: Q = Q(
    "q150_cdc_apply",
    """WITH ch AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
      |    c_mktsegment, 'D' AS op
      |  FROM customer WHERE c_custkey % 17 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100,
      |    'MOVED', 'U'
      |  FROM customer WHERE c_custkey % 17 IN (1, 2, 3)
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'NEW ' || c_name, c_nationkey,
      |    CAST(0.0 AS DOUBLE), 'FRESH', 'I'
      |  FROM customer WHERE c_custkey % 17 = 4)
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM (
      |  SELECT c.* FROM customer c
      |  WHERE c_custkey NOT IN (SELECT c_custkey FROM ch)
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |  FROM ch WHERE op IN ('I', 'U'))
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val cust = Tables.load(spark, dir, "customer")
    val mod = $"c_custkey" % 17
    val changes = cust.filter(mod === 0)
      .withColumn("op", lit("D"))
      .unionByName(cust.filter(mod.isin(1, 2, 3))
        .withColumn("c_acctbal", $"c_acctbal" + 100)
        .withColumn("c_mktsegment", lit("MOVED"))
        .withColumn("op", lit("U")))
      .unionByName(cust.filter(mod === 4)
        .withColumn("c_custkey", $"c_custkey" + 1000000L)
        .withColumn("c_name", concat(lit("NEW "), $"c_name"))
        .withColumn("c_acctbal", lit(0.0))
        .withColumn("c_mktsegment", lit("FRESH"))
        .withColumn("op", lit("I")))
    graft.operators.Upsert.applyChangelog(cust, changes,
        Seq("c_custkey"))
      .orderBy($"c_custkey")
  }

  /** 2D skyline (Pareto frontier) per brand: parts not dominated on
    * (price ↓ better, size ↑ better). The engine computes it with ONE
    * windowed pass — sorted by (price asc, size desc), a point is
    * dominated iff the running max size over strictly-preceding rows
    * reaches it (exact-tie duplicates removed first, so "reaches"
    * implies a strict improvement somewhere) — O(n log n) against the
    * oracle's independent O(n²) NOT-EXISTS definition. The window is
    * partitioned by brand: fully parallel at scale.
    */
  val q151_skyline: Q = Q(
    "q151_skyline",
    """WITH pts AS (SELECT DISTINCT p_brand,
      |    CAST(p_retailprice AS DECIMAL(18,2)) AS price, p_size
      |  FROM part)
      |SELECT p_brand, CAST(price AS DOUBLE) AS price, p_size
      |FROM pts a
      |WHERE NOT EXISTS (SELECT 1 FROM pts b
      |  WHERE b.p_brand = a.p_brand AND b.price <= a.price
      |  AND b.p_size >= a.p_size
      |  AND (b.price < a.price OR b.p_size > a.p_size))
      |ORDER BY p_brand, price""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val pts = Tables.load(spark, dir, "part")
      .select($"p_brand", money($"p_retailprice").as("price"),
        $"p_size")
      .distinct()
    val w = Window.partitionBy($"p_brand")
      .orderBy($"price".asc, $"p_size".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("_m", max($"p_size").over(w))
      .filter($"_m".isNull || $"_m" < $"p_size")
      .select($"p_brand", $"price".cast("double").as("price"),
        $"p_size")
      .orderBy($"p_brand", $"price")
  }

  /** Weighted median: smallest quantity whose cumulative
    * extended-price weight reaches half the total, per return flag.
    * Weights pre-aggregate per (flag, value) BEFORE the window — the
    * cumulative pass runs over value cardinality, not row count (the
    * scale form of weighted quantiles); `2·cum ≥ total` in exact
    * cents avoids any division.
    */
  val q152_weighted_median: Q = Q(
    "q152_weighted_median",
    """WITH t AS (SELECT l_returnflag,
      |    CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS w
      |  FROM lineitem),
      |g AS (SELECT l_returnflag, qty, SUM(w) AS w FROM t GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, qty, w,
      |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY qty) AS cw,
      |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      |  FROM g)
      |SELECT l_returnflag,
      |  CAST(MIN(CASE WHEN 2 * cw >= tw THEN qty END) AS BIGINT)
      |    AS wmedian_qty,
      |  CAST(MIN(tw) AS BIGINT) AS total_weight_cents
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val g = Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_quantity".cast("long").as("qty"),
        (money($"l_extendedprice") * 100).cast("long").as("w"))
      .groupBy($"l_returnflag", $"qty")
      .agg(sum($"w").as("w"))
    val wc = Window.partitionBy($"l_returnflag").orderBy($"qty")
    val wt = Window.partitionBy($"l_returnflag")
    g.select($"l_returnflag", $"qty",
        sum($"w").over(wc).as("cw"), sum($"w").over(wt).as("tw"))
      .groupBy($"l_returnflag")
      .agg(min(when($"cw" * 2 >= $"tw", $"qty")).as("wmedian_qty"),
        min($"tw").as("total_weight_cents"))
      .orderBy($"l_returnflag")
  }

  /** Correlated scalar aggregate subqueries, three at once: customers
    * with more orders than their nation's per-customer average —
    * compared cross-multiplied in exact integers (`my_orders ·
    * nation_customers > nation_orders`), never an AVG of doubles.
    * Catalyst decorrelates each scalar into an aggregate + join
    * (`RewriteCorrelatedScalarSubquery`) — the shape that survives a
    * fact-scale outer side, vs naive per-row re-execution.
    */
  val q153_correlated_avg: Q = {
    val sql =
      """SELECT c.c_nationkey, COUNT(*) AS n_above
        |FROM customer c
        |WHERE (SELECT COUNT(*) FROM orders o
        |    WHERE o.o_custkey = c.c_custkey)
        |  * (SELECT COUNT(*) FROM customer c2
        |    WHERE c2.c_nationkey = c.c_nationkey)
        |  > (SELECT COUNT(*) FROM orders o JOIN customer c3
        |    ON o.o_custkey = c3.c_custkey
        |    WHERE c3.c_nationkey = c.c_nationkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    Q("q153_correlated_avg", sql) { (spark, dir) =>
      Tables.load(spark, dir, "customer")
        .createOrReplaceTempView("customer")
      Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
      spark.sql(sql)
    }
  }

  /** Ordered string aggregation: `LISTAGG … WITHIN GROUP (ORDER BY)`
    * (Spark ≥4.0) ≡ DuckDB's ordered `string_agg` — the report-surface
    * concat whose determinism REQUIRES the explicit order clause (an
    * unordered listagg is partitioning-dependent and would never
    * hash-match, the same nondeterminism lesson as the reference's
    * unordered ROW_NUMBER, SURVEY §7.3).
    */
  val q154_string_agg: Q = Q(
    "q154_string_agg",
    """SELECT r_name,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "nation").createOrReplaceTempView("nation")
    Tables.load(spark, dir, "region").createOrReplaceTempView("region")
    spark.sql(
      """SELECT r_name,
        |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
        |    AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Sample variance and stddev from exact integer moments:
    * `(n·Σx² − (Σx)²) / (n·(n−1))` with the numerator and denominator
    * exact BIGINTs (bounded ≪ 2⁵³ here) and ONE IEEE division, then
    * one correctly-rounded sqrt — engine-identical where a running
    * float `var_samp` is summation-order-dependent and would never
    * hash-match (same discipline as q131's regression moments).
    */
  val q155_exact_variance: Q = Q(
    "q155_exact_variance",
    """WITH t AS (SELECT l_returnflag,
      |    CAST(l_quantity AS BIGINT) AS x FROM lineitem),
      |m AS (SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx,
      |    SUM(x * x) AS sxx
      |  FROM t GROUP BY 1)
      |SELECT l_returnflag, n,
      |  CAST(n * sxx - sx * sx AS DOUBLE)
      |    / CAST(n * (n - 1) AS DOUBLE) AS var_qty,
      |  sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |    / CAST(n * (n - 1) AS DOUBLE)) AS stddev_qty
      |FROM m ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val m = Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_quantity".cast("long").as("x"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx"))
    val v = ($"n" * $"sxx" - $"sx" * $"sx").cast("double") /
      ($"n" * ($"n" - 1)).cast("double")
    m.select($"l_returnflag", $"n", v.as("var_qty"),
        sqrt(v).as("stddev_qty"))
      .orderBy($"l_returnflag")
  }

  /** Calendar-function sweep with pinned cross-engine semantics:
    * last_day, ISO week starts (both engines truncate weeks to
    * Monday), ISO day-of-week (Spark's `weekday+1` ≡ DuckDB's
    * `isodow` — never `dayofweek`, whose week start is
    * engine-configurable), month indexes by `y·12+m` arithmetic
    * (NOT months_between/datediff('month'), which count differently
    * around month ends), and end-of-month-clamped add_months.
    */
  val q156_date_funcs: Q = Q(
    "q156_date_funcs",
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
      |    AS week_start,
      |  CAST(isodow(o_orderdate) AS INT) AS dow_iso,
      |  CAST(week(o_orderdate) AS INT) AS iso_week,
      |  CAST(EXTRACT(YEAR FROM o_orderdate) * 12
      |    + EXTRACT(MONTH FROM o_orderdate)
      |    - (1995 * 12 + 1) AS INT) AS month_idx,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
      |    AS plus_2m
      |FROM orders WHERE o_orderkey < 500
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val d = $"o_orderdate".cast("date")
    Tables.load(spark, dir, "orders")
      .filter($"o_orderkey" < 500)
      .select($"o_orderkey", d.as("d"),
        last_day(d).as("month_end"),
        date_trunc("week", d).cast("date").as("week_start"),
        (weekday(d) + 1).cast("int").as("dow_iso"),
        weekofyear(d).cast("int").as("iso_week"),
        (year(d) * 12 + month(d) - lit(1995 * 12 + 1)).cast("int")
          .as("month_idx"),
        add_months(d, 2).as("plus_2m"))
      .orderBy($"o_orderkey")
  }

  /** Exact set-similarity join ([[graft.operators.Dedup.thresholdJoin]]):
    * ALL document pairs with shingle Jaccard ≥ 0.7, found by prefix
    * filtering (rare-first global order; no false negatives by the
    * prefix theorem) — the exact counterpart of q45's probabilistic
    * MinHash-LSH candidates. The oracle is the O(n²) brute force over
    * every pair: the prefix index must reproduce it EXACTLY.
    */
  val q157_similarity_join: Q = Q(
    "q157_similarity_join",
    s"""WITH s AS (SELECT doc_id, ${OracleSql.SortedShingleSql} AS sh FROM documents),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.sh, b.sh)) AS i,
      |    len(a.sh) + len(b.sh) AS s
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id
      |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
      |SELECT id_a, id_b, (i * 10000) // (s - i) AS j_bp
      |FROM p WHERE (i * 10000) // (s - i) >= 7000
      |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    graft.operators.Dedup.thresholdJoin(
        Tables.loadParallel(spark, dir, "documents"), "text", "doc_id",
        thresholdBp = 7000)
      .orderBy($"id_a", $"id_b")
  }

  /** Market-basket lift: part pairs co-ordered more often than chance,
    * `lift = P(ab)/(P(a)·P(b))` in scaled integers
    * (`n_ab·N·10⁴ DIV (n_a·n_b)` — association strength without a
    * single float; overflow bound `n_ab·N·10⁴ < 2⁶³` documented at
    * the call). Pair generation reuses [[graft.operators.Graph.coPairs]]
    * (sorted-prefix slice, packed 8-byte shuffle keys — never a
    * self-join); supports and the basket count ride two hash aggs.
    */
  val q158_basket_lift: Q = Q(
    "q158_basket_lift",
    """WITH i AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |  FROM lineitem),
      |pairs AS (SELECT a.p AS item_a, b.p AS item_b, COUNT(*) AS n_ab
      |  FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2),
      |supp AS (SELECT p, COUNT(*) AS n FROM i GROUP BY 1),
      |tot AS (SELECT COUNT(DISTINCT o) AS big_n FROM i)
      |SELECT item_a, item_b, n_ab,
      |  (n_ab * big_n * 10000) // (sa.n * sb.n) AS lift_bp
      |FROM pairs JOIN supp sa ON sa.p = item_a
      |JOIN supp sb ON sb.p = item_b CROSS JOIN tot
      |WHERE n_ab >= 3
      |ORDER BY lift_bp DESC, item_a, item_b LIMIT 50""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val items = Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      .transform(Barrier(_)) // pairs, supports, and the total all read it
    val pairs = graft.operators.Graph.coPairs(items, $"o", $"p",
        spark.sessionState.conf.numShufflePartitions, packKey = true)
      .select($"item_a", $"item_b", $"n".as("n_ab"))
      .filter($"n_ab" >= 3)
    val supp = items.groupBy($"p").agg(count(lit(1)).as("n"))
    val bigN = items.select(countDistinct($"o").as("big_n"))
    pairs
      // supports are PART-table-sized (grow with SF) — unhinted, AQE
      // broadcasts while small and hash-joins at scale; pairs are
      // already hash-partitioned on the item keys
      .join(supp.select($"p".as("item_a"), $"n".as("na")), "item_a")
      .join(supp.select($"p".as("item_b"), $"n".as("nb")), "item_b")
      .crossJoin(broadcast(bigN))
      .select($"item_a", $"item_b", $"n_ab",
        expr("(n_ab * big_n * 10000) DIV (na * nb)").as("lift_bp"))
      .orderBy($"lift_bp".desc, $"item_a", $"item_b")
      .limit(50)
  }

  /** Sparse-vector retrieval over posting lists: score the corpus
    * against a term query with integer TF·IDF-style weights
    * (`idf = N·10⁶ DIV df` — the log-free inverse-frequency variant
    * that stays exact). The query terms broadcast as an `isin` filter
    * into the token scan — the posting-list access path: only
    * matching (doc, term) rows ever aggregate, so corpus size sets
    * scan cost but NOT shuffle cost.
    */
  val q159_retrieval: Q = {
    val terms = Seq("join", "window", "scan", "merge")
    val termList = terms.map(t => s"'$t'").mkString(", ")
    Q("q159_retrieval",
      s"""WITH toks AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '\\s+')) AS tok
        |  FROM documents),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks
        |  WHERE tok IN ($termList) GROUP BY 1),
        |n AS (SELECT COUNT(*) AS big_n FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |  WHERE tok IN ($termList) GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(tf * ((big_n * 1000000) // df)) AS BIGINT) AS score
        |FROM tf JOIN df USING (tok) CROSS JOIN n
        |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val toks = Tables.loadParallel(spark, dir, "documents")
        .select($"doc_id",
          explode(graft.functions.TextFunctions.lowerTokens($"text"))
            .as("tok"))
        .filter($"tok".isin(terms: _*))
        .transform(Barrier(_)) // df and tf both read the filtered postings
      val dfreq = toks.groupBy($"tok")
        .agg(countDistinct($"doc_id").as("df"))
      val bigN = Tables.load(spark, dir, "documents")
        .select(count(lit(1)).as("big_n"))
      toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        .join(broadcast(dfreq), "tok")
        .crossJoin(broadcast(bigN))
        .groupBy($"doc_id")
        .agg(sum(expr("tf * ((big_n * 1000000) DIV df)")).as("score"))
        .orderBy($"score".desc, $"doc_id")
        .limit(20)
    }
  }

  /** Boolean aggregates: BOOL_AND / BOOL_OR / COUNT_IF — the
    * assertion-style rollups data-quality dashboards run (\"do ALL
    * rows satisfy X, does ANY violate Y, how many\") without CASE
    * scaffolding. All three partial-aggregate map-side (AND/OR/count
    * are associative-commutative).
    */
  val q160_bool_aggs: Q = Q(
    "q160_bool_aggs",
    """SELECT event_type,
      |  bool_and(value > 1) AS all_gt1,
      |  bool_or(value > 400) AS any_gt400,
      |  CAST(count_if(value > 250) AS BIGINT) AS n_gt250,
      |  CAST(COUNT(*) - count_if(value > 250) AS BIGINT) AS n_le250
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy($"event_type")
      .agg(bool_and($"value" > 1).as("all_gt1"),
        bool_or($"value" > 400).as("any_gt400"),
        count_if($"value" > 250).as("n_gt250"),
        (count(lit(1)) - count_if($"value" > 250)).as("n_le250"))
      .orderBy($"event_type")
  }

  /** Regex-function sweep with a DIALECT-SAFE pattern subset
    * (character classes, anchors, groups — identical in Java regex
    * and RE2): predicate match, match counting, group extraction,
    * and global replacement. Note the portability trap the query
    * pins: DuckDB's `regexp_replace` replaces the FIRST match unless
    * given the 'g' flag; Spark's replaces ALL — the oracle carries
    * the flag explicitly.
    */
  val q161_regex_sweep: Q = Q(
    "q161_regex_sweep",
    """SELECT p_partkey,
      |  regexp_matches(p_name, 'ow') AS has_ow,
      |  CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS INT)
      |    AS n_vowel_runs,
      |  regexp_extract(p_name, '^([a-z]+) ([a-z]+)', 2) AS word2,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
      |FROM part WHERE p_partkey < 200
      |ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "part")
      .filter($"p_partkey" < 200)
      .select($"p_partkey",
        $"p_name".rlike("ow").as("has_ow"),
        regexp_count($"p_name", lit("[aeiou]+")).cast("int")
          .as("n_vowel_runs"),
        regexp_extract($"p_name", "^([a-z]+) ([a-z]+)", 2).as("word2"),
        regexp_replace($"p_name", "[aeiou]", "_").as("devoweled"))
      .orderBy($"p_partkey")
  }

  /** Per-row array set algebra against a bounded query set:
    * intersect (sorted — Spark preserves left order, DuckDB's is
    * unspecified, so BOTH sides sort — then serialized to CSV, the
    * q24 array-output convention), except/union via sizes. Pure
    * expression work: zero shuffles before the output sort.
    * Pinned quirk: DuckDB's `array_to_string([])` is NULL where
    * Spark's `array_join` gives '' — the oracle coalesces.
    */
  val q162_array_setops: Q = Q(
    "q162_array_setops",
    """WITH t AS (SELECT doc_id,
      |    list_sort(list_distinct(string_split_regex(lower(text),
      |      '\s+'))) AS toks
      |  FROM documents WHERE doc_id < 50)
      |SELECT doc_id,
      |  COALESCE(array_to_string(list_sort(list_intersect(toks,
      |    ['join', 'scan', 'window', 'merge'])), ','), '') AS q_hits,
      |  CAST(len(list_filter(toks, x -> NOT list_contains(
      |    ['join', 'scan', 'window', 'merge'], x))) AS INT) AS n_rest,
      |  CAST(len(list_distinct(toks ||
      |    ['join', 'scan', 'window', 'merge'])) AS INT) AS n_union
      |FROM t ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val q = typedlit(Seq("join", "scan", "window", "merge"))
    Tables.load(spark, dir, "documents")
      .filter($"doc_id" < 50)
      .select($"doc_id",
        array_sort(array_distinct(
          graft.functions.TextFunctions.lowerTokens($"text")))
          .as("toks"))
      .select($"doc_id",
        array_join(array_sort(array_intersect($"toks", q)), ",")
          .as("q_hits"),
        size(array_except($"toks", q)).as("n_rest"),
        size(array_union($"toks", q)).as("n_union"))
      .orderBy($"doc_id")
  }

  /** SCD temporal join — every fact row joined to the dimension
    * version in effect AT ITS OWN time (`day BETWEEN start AND end`),
    * the per-row generalization of q142's fixed-date lookup and the
    * classic warehouse "fact × type-2 dimension" access path. The
    * join is equi on the entity with the interval residual evaluated
    * in-place: one shuffle on user_id co-locates fact days with that
    * user's few SCD rows at any scale.
    */
  val q163_scd_temporal_join: Q = Q(
    "q163_scd_temporal_join",
    s"""WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
      |    CASE WHEN COUNT(*) >= 3 THEN 'active' ELSE 'light' END
      |      AS activity_class
      |  FROM events GROUP BY 1, 2),
      |$ScdCtes
      |SELECT scd.activity_class, COUNT(*) AS n_user_days,
      |  CAST(SUM(d.n_events) AS BIGINT) AS total_events
      |FROM d JOIN scd ON d.user_id = scd.user_id
      |  AND d.day BETWEEN scd.start_day AND scd.end_day
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val daily = Tables.load(spark, dir, "events")
      .groupBy($"user_id", $"ts".cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("activity_class",
        when($"n_events" >= 3, "active").otherwise("light"))
    val scd = Scd.backfill(
        daily.select($"user_id", $"day", $"activity_class"),
        "user_id", "day", "activity_class")
      .select($"user_id", $"activity_class".as("cls"),
        $"start_day", $"end_day")
    daily.join(scd,
        daily("user_id") === scd("user_id") &&
          $"day" >= $"start_day" && $"day" <= $"end_day")
      .groupBy($"cls".as("activity_class"))
      .agg(count(lit(1)).as("n_user_days"),
        sum($"n_events").as("total_events"))
      .orderBy($"activity_class")
  }

  /** Sessionized STRICT-ORDER funnel (view → click → purchase inside
    * one 30-min session) with zero self-joins: a chain of running-min
    * windows over the session — `tv_run` carries the earliest view so
    * far, so a click counts only once a view precedes it, and a
    * purchase only once such a click precedes IT. One shuffle on
    * (user); three window passes reuse the partition sort. The
    * event_id tiebreak makes the within-µs order total, so both
    * engines walk identical sequences.
    */
  val q164_session_funnel: Q = Q(
    "q164_session_funnel",
    """WITH o AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
      |    event_type,
      |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_ts, ts
      |  FROM events),
      |f AS (SELECT *, CASE WHEN prev_ts IS NULL
      |    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
      |    THEN 1 ELSE 0 END AS ns FROM o),
      |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f),
      |w1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN tus END)
      |    OVER (PARTITION BY user_id, sid ORDER BY tus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS tv_run
      |  FROM s),
      |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click'
      |      AND tv_run IS NOT NULL THEN tus END)
      |    OVER (PARTITION BY user_id, sid ORDER BY tus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS tc_run
      |  FROM w1),
      |sess AS (SELECT user_id, sid,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS d1,
      |    MAX(CASE WHEN event_type = 'click'
      |      AND tv_run IS NOT NULL THEN 1 ELSE 0 END) AS d2,
      |    MAX(CASE WHEN event_type = 'purchase'
      |      AND tc_run IS NOT NULL THEN 1 ELSE 0 END) AS d3
      |  FROM w2 GROUP BY 1, 2)
      |SELECT COUNT(*) AS n_sessions,
      |  CAST(SUM(d1) AS BIGINT) AS n_viewed,
      |  CAST(SUM(d2) AS BIGINT) AS n_clicked_after,
      |  CAST(SUM(d3) AS BIGINT) AS n_purchased_after
      |FROM sess""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id")
      .orderBy($"ts", $"event_id")
    val run = byUser
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = Tables.load(spark, dir, "events")
      .select($"user_id", $"ts", unix_micros($"ts").as("tus"),
        $"event_id", $"event_type")
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("ns", when($"prev_ts".isNull ||
        unix_micros($"ts") - unix_micros($"prev_ts") > 1800000000L, 1)
        .otherwise(0))
      .withColumn("sid", sum($"ns").over(run))
    val bySess = Window.partitionBy($"user_id", $"sid")
      .orderBy($"tus", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s.withColumn("tv_run",
        min(when($"event_type" === "view", $"tus")).over(bySess))
      .withColumn("tc_run",
        min(when($"event_type" === "click" && $"tv_run".isNotNull,
          $"tus")).over(bySess))
      .groupBy($"user_id", $"sid")
      .agg(
        max(when($"event_type" === "view", 1).otherwise(0)).as("d1"),
        max(when($"event_type" === "click" && $"tv_run".isNotNull, 1)
          .otherwise(0)).as("d2"),
        max(when($"event_type" === "purchase" && $"tc_run".isNotNull, 1)
          .otherwise(0)).as("d3"))
      .agg(count(lit(1)).as("n_sessions"),
        sum($"d1").cast("long").as("n_viewed"),
        sum($"d2").cast("long").as("n_clicked_after"),
        sum($"d3").cast("long").as("n_purchased_after"))
  }

  // sequential-fold dot product of dims [1..k] in DuckDB — the same
  // left-to-right order as the codegen VectorDot, so doubles match
  private def dotSql(a: String, b: String, k: Int): String =
    s"""list_reduce(list_transform(range(1, ${k + 1}),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
       |  (x, y) -> x + y)""".stripMargin

  /** Truncated-embedding retrieval (the matryoshka trade): score the
    * corpus against a query with only the FIRST 16 of 64 dimensions —
    * a 4× cheaper scan whose ranking is then compared against the
    * full-dimension cosine carried alongside. Both cosines are
    * sequential-fold doubles (codegen [[graft.plans.VectorDot]] ≡
    * DuckDB's left-fold `list_reduce`), so every score is
    * bit-identical cross-engine. The query vector broadcasts; the
    * scan never shuffles.
    */
  val q165_truncated_ann: Q = Q(
    "q165_truncated_ann",
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings
      |  WHERE vec_id = 0),
      |s AS (SELECT vec_id,
      |    ${dotSql("embedding", "qv", 16)}
      |      / (sqrt(${dotSql("embedding", "embedding", 16)})
      |        * sqrt(${dotSql("qv", "qv", 16)})) AS cos16,
      |    ${dotSql("embedding", "qv", 64)}
      |      / (sqrt(${dotSql("embedding", "embedding", 64)})
      |        * sqrt(${dotSql("qv", "qv", 64)})) AS cos64
      |  FROM embeddings, q WHERE vec_id <> 0)
      |SELECT vec_id, cos16, cos64 FROM s
      |ORDER BY cos16 DESC, vec_id LIMIT 20""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.plans.VectorDot
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding".as("qv"),
        slice($"embedding", 1, 16).as("qv16"))
    def cos(v: org.apache.spark.sql.Column,
        w: org.apache.spark.sql.Column) =
      VectorDot(v, w) / (sqrt(VectorDot(v, v)) * sqrt(VectorDot(w, w)))
    emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id",
        cos(slice($"embedding", 1, 16), $"qv16").as("cos16"),
        cos($"embedding", $"qv").as("cos64"))
      .orderBy($"cos16".desc, $"vec_id")
      .limit(20)
  }

  /** Quantized ANN scoring: the int8 codes of q133 put to work —
    * corpus and query both quantize per-vector (min/max range codes,
    * all-IEEE so the codes are engine-identical), and the score is a
    * PURE INTEGER dot product of code arrays: exact, overflow-safe
    * (64·255² ≪ 2⁶³), and 4× smaller memory traffic than float dots —
    * the serving-side payoff of the quantization pass. Min/max are
    * [[graft.functions.Let]]-bound so the O(d) extrema never
    * re-evaluate per element inside the code lambda.
    */
  val q166_quantized_topk: Q = {
    Q("q166_quantized_topk",
      s"""WITH ${OracleSql.quantCodesCtes("r")},
        |q AS (SELECT codes AS qc FROM c WHERE vec_id = 0)
        |SELECT c.vec_id,
        |  CAST(list_reduce(list_transform(range(1, 65),
        |    i -> c.codes[i] * qc[i]), (x, y) -> x + y) AS BIGINT)
        |    AS qscore
        |FROM c, q WHERE c.vec_id <> 0
        |ORDER BY qscore DESC, vec_id LIMIT 20""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      import graft.functions.Let
      def codes(emb: org.apache.spark.sql.Column) =
        Let(array_min(emb).cast("double"),
            array_max(emb).cast("double")) { (mn, mx) =>
          when(mx > mn, transform(emb, v =>
            least(floor((v.cast("double") - mn) * 255 / (mx - mn))
              .cast("long"), lit(255L))))
            .otherwise(transform(emb, _ => lit(0L)))
        }
      val c = Tables.loadParallel(spark, dir, "embeddings")
        .select($"vec_id", codes($"embedding").as("codes"))
      val q = c.filter($"vec_id" === 0).select($"codes".as("qc"))
      c.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q))
        .select($"vec_id",
          aggregate(zip_with($"codes", $"qc", (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("qscore"))
        .orderBy($"qscore".desc, $"vec_id")
        .limit(20)
    }
  }

  /** Incremental near-dup of a delta batch against a historical LSH
    * band index ([[graft.operators.Dedup.incrementalNearDup]]) — the
    * daily-ingest shape: history's text is never re-read; the delta
    * bands, joins the index on band_hash, and exact-verifies only the
    * collisions. Verdict rule: dup against ANY history doc or an
    * EARLIER delta doc (lowest-id-keeps, applied incrementally). The
    * oracle replays signatures → bands → candidates → Jaccard on the
    * same split.
    */
  val q167_incremental_neardup: Q = Q(
    "q167_incremental_neardup",
    s"""WITH s AS (SELECT doc_id, ${OracleSql.SortedShingleSql} AS sh
      |  FROM documents),
      |${OracleSql.minhashBands("s", "")},
      |cand AS (SELECT DISTINCT d.doc_id AS did, o.doc_id AS oid
      |  FROM band d JOIN band o ON d.band_hash = o.band_hash
      |  WHERE d.doc_id % 5 = 0
      |    AND ((o.doc_id % 5 <> 0) OR o.doc_id < d.doc_id)),
      |ver AS (SELECT did, MIN(oid) AS dup_of FROM cand
      |  JOIN s sa ON cand.did = sa.doc_id
      |  JOIN s sb ON cand.oid = sb.doc_id
      |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |      / (len(sa.sh) + len(sb.sh)
      |         - len(list_intersect(sa.sh, sb.sh))) >= 0.8
      |  GROUP BY did)
      |SELECT doc_id AS id, ver.dup_of, ver.dup_of IS NOT NULL AS is_dup
      |FROM documents LEFT JOIN ver ON doc_id = ver.did
      |WHERE doc_id % 5 = 0
      |ORDER BY id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    val history = docs.filter($"doc_id" % 5 =!= 0)
    val delta = docs.filter($"doc_id" % 5 === 0)
    val index = graft.operators.Dedup.bandIndex(history, "text",
      "doc_id")
    graft.operators.Dedup.incrementalNearDup(index, delta, "text",
        "doc_id", jaccardThreshold = 0.8)
      .orderBy($"id")
  }

  val all: Seq[Q] = Seq(
    q140_bloom_semi, q141_bounded_hops, q142_scd_pit, q143_not_in_nulls,
    q144_interpolate, q145_explode_outer, q146_json_roundtrip,
    q147_pivot_multi, q148_time_weighted, q149_mad, q150_cdc_apply,
    q151_skyline, q152_weighted_median, q153_correlated_avg,
    q154_string_agg, q155_exact_variance, q156_date_funcs,
    q157_similarity_join, q158_basket_lift, q159_retrieval,
    q160_bool_aggs, q161_regex_sweep, q162_array_setops,
    q163_scd_temporal_join, q164_session_funnel, q165_truncated_ann,
    q166_quantized_topk, q167_incremental_neardup)
}
