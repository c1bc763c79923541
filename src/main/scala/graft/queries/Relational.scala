package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Exact._

/** Core relational surface: scans, filters, hash aggregation (SURVEY
  * §2.2, §2.4). Flagship is `q1_agg`, the TPC-H-Q1-shaped pricing
  * summary — scan → filter (pushed to parquet) → partial+final hash
  * agg. At scale this is a single shuffle on two low-cardinality keys;
  * map-side combine reduces 100 TB of input to a handful of rows per
  * partition before the exchange.
  */
object Relational {

  /** Pricing summary report (reference A1 hash-agg family; cf.
    * `user_cumulated_populate.sql:6-11` GROUP BY shape).
    */
  val q1_agg: Q = Q(
    "q1_agg",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS DOUBLE) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsumRaw(money($"l_extendedprice") * (lit(1) - money($"l_discount")))
          .as("sum_disc_price"),
        davg($"l_quantity").as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** COUNT(DISTINCT) + conditional distinct (reference A2:
    * `assignmnet_2.sql:239`, `funnel_analysis.sql:16`).
    */
  val q2_count_distinct: Q = Q(
    "q2_count_distinct",
    """SELECT event_type,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  COUNT(DISTINCT CASE WHEN value >= 250 THEN user_id END) AS n_big_users,
      |  COUNT(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("n_users"),
        countDistinct(when($"value" >= 250, $"user_id")).as("n_big_users"),
        count(lit(1)).as("n_events"))
      .orderBy($"event_type")
  }

  /** Searched CASE WHEN classification (reference P7: scoring class,
    * `load_players_table_day2.sql:61-66`) — here a balance class over
    * customers, aggregated per class.
    */
  val q3_case_when: Q = Q(
    "q3_case_when",
    """SELECT CASE WHEN c_acctbal < 0 THEN 'debtor'
      |            WHEN c_acctbal < 2500 THEN 'low'
      |            WHEN c_acctbal < 7500 THEN 'mid'
      |            ELSE 'high' END AS balance_class,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "customer")
      .withColumn("balance_class",
        when($"c_acctbal" < 0, "debtor")
          .when($"c_acctbal" < 2500, "low")
          .when($"c_acctbal" < 7500, "mid")
          .otherwise("high"))
      .groupBy($"balance_class")
      .agg(
        count(lit(1)).as("n_customers"),
        dsum($"c_acctbal").as("total_bal"))
      .orderBy($"balance_class")
  }

  /** LIKE-pattern predicates (reference P6:
    * `window_based_analysis.sql:8-13`).
    */
  val q4_filter_like: Q = Q(
    "q4_filter_like",
    """SELECT p_brand, COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM part
      |WHERE p_name LIKE '%red%' OR p_name LIKE '%blue%'
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "part")
      .filter($"p_name".like("%red%") || $"p_name".like("%blue%"))
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"), dsum($"p_retailprice").as("total_price"))
      .orderBy($"p_brand")
  }

  /** Scalar string/date function surface (reference §2.8: split_part,
    * upper, date_trunc, extract).
    */
  val q5_scalar_funcs: Q = Q(
    "q5_scalar_funcs",
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
      |  UPPER(SPLIT_PART(o_orderpriority, '-', 2)) AS priority_word,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .withColumn("order_year", year($"o_orderdate").cast("int"))
      .withColumn("priority_word",
        upper(split($"o_orderpriority", "-").getItem(1)))
      .groupBy($"order_year", $"priority_word")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total_price"))
      .orderBy($"order_year", $"priority_word")
  }

  /** HAVING post-aggregation filter (reference P10:
    * `funnel_analysis.sql:29-30`) + top-k order/limit (O3).
    */
  val q6_having_topk: Q = Q(
    "q6_having_topk",
    """SELECT o_custkey,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
      |FROM orders
      |GROUP BY o_custkey
      |HAVING COUNT(*) >= 5
      |ORDER BY total_spent DESC, o_custkey
      |LIMIT 25""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total_spent"))
      .filter($"n_orders" >= 5)
      .orderBy($"total_spent".desc, $"o_custkey")
      .limit(25)
  }

  private val q7Sql =
    """SELECT COALESCE(o_orderstatus, '(all)') AS order_status,
      |  COALESCE(o_orderpriority, '(all)') AS order_priority,
      |  CAST(GROUPING(o_orderstatus) AS INT) + CAST(GROUPING(o_orderpriority) AS INT) AS grouping_level,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority), ())
      |ORDER BY 1, 2""".stripMargin

  /** GROUPING SETS + GROUPING() level labels (reference A8:
    * `grouping_sets.sql:13-34`). Uses Spark SQL over a temp view — the
    * reference's own S4 pattern.
    */
  val q7_grouping_sets: Q = Q("q7_grouping_sets", q7Sql) { (spark, dir) =>
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(q7Sql)
  }

  /** COALESCE / NULLIF / GREATEST (reference P9) + JSON property-bag
    * extraction (reference map/JSON family, `team_vertices.sql:8-14`;
    * events.props carries `{"k": N}`).
    */
  val q8_json_conditional: Q = Q(
    "q8_json_conditional",
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  CAST(SUM(CAST(GREATEST(COALESCE(NULLIF(value, 0), 1), 1) AS DECIMAL(18,2))) AS DOUBLE) AS adj_value
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.loadParallel(spark, dir, "events")
      .withColumn("k_bucket",
        (get_json_object($"props", "$.k").cast("int") % 10))
      .groupBy($"k_bucket")
      .agg(
        count(lit(1)).as("n_events"),
        dsum($"value").as("total_value"),
        dsum(greatest(coalesce(nullif($"value", lit(0)), lit(1)), lit(1)))
          .as("adj_value"))
      .orderBy($"k_bucket")
  }

  /** The at-scale COUNT(DISTINCT) variant (SURVEY A2 note + north-star
    * extension): HyperLogLog++ sketch per group. Sketch estimates are
    * engine-specific, so the raw estimate can't be hash-compared to
    * DuckDB; instead the query emits an accuracy-envelope boolean —
    * |approx − exact| / exact ≤ 5% (the HLL++ contract at default
    * precision) — and the oracle asserts TRUE. The hash compare is then
    * a real accuracy check, not a rows-only shrug. ApproxSpec asserts
    * the same contract on fixtures.
    */
  val q9_approx_distinct: Q = Q(
    "q9_approx_distinct",
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact,
      |  TRUE AS approx_ok
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // The exact arm and the sketch arm are SEPARATE aggregations
    // joined on the 5-row group key, never one mixed agg: a mixed
    // (countDistinct + approx_count_distinct) aggregate triggers
    // Spark's distinct-agg rewrite, which keys the partial on
    // (event_type, user_id) — allocating one FULL HLL buffer per
    // DISTINCT USER (~100k sketches × 12.8 KiB at sf0.1) instead of
    // one per group. Measured 3.1 s mixed vs ~1 s split at sf0.1.
    val ev = Tables.load(spark, dir, "events")
      .select($"event_type", $"user_id")
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users_exact"))
    val approx = ev.groupBy($"event_type")
      .agg(
        // rsd 0.01, not the 0.05 default: the envelope below asserts
        // ≤5% error, and a sketch whose TYPICAL error is 5% sits on
        // the boundary (measured: all five sf0.1 groups land outside).
        // At 1% rsd the 5% envelope is ~5σ of headroom at every SF.
        // COST of that headroom (Spark's HLL++ precision
        // p = ⌈2·log₂(1.106/rsd)⌉): 2^14 registers ≈ 12.8 KiB/group
        // vs the default's 0.4 KiB — ~32×, fine at 5 groups, NOT fine
        // at a 10⁶-group GROUP BY, where rsd must follow group count.
        approx_count_distinct($"user_id", rsd = 0.01)
          .as("n_users_approx"))
    exact.join(broadcast(approx), Seq("event_type"))
      .select($"event_type", $"n_users_exact",
        (abs($"n_users_approx" - $"n_users_exact") <=
          $"n_users_exact" * 0.05).as("approx_ok"))
      .orderBy($"event_type")
  }

  /** Exact ordered-statistics aggregation: median and p90 of order
    * value per status (Spark `percentile` and DuckDB `quantile_cont`
    * share the linear-interpolation definition).
    */
  val q62_percentiles: Q = Q(
    "q62_percentiles",
    OracleSql.StatusPercentilesOracle) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_orderstatus")
      .agg(
        percentile($"o_totalprice", lit(0.5)).as("median_price"),
        percentile($"o_totalprice", lit(0.9)).as("p90_price"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderstatus")
  }

  /** Sketch-based percentiles — the 100 TB companion to `q62` exactly
    * as `q9_approx_distinct` is to `q2`: `percentile` buffers every
    * value per group, `approx_percentile` keeps a fixed-size GK-style
    * sketch with map-side merge. Estimates are engine-specific, so —
    * same policy as q9 — the query emits rank-envelope booleans (the
    * approx value must land between the exact p±0.01 quantiles; the
    * sketch's own guarantee at accuracy=10000 is rank error ≤ 1e-4)
    * and the oracle asserts TRUE.
    *
    * The envelope bounds come from [[graft.operators.Percentiles
    * .exactCont]] (distributed rank selection, bounded memory), NOT
    * from four exact `percentile()` aggregates — those buffer every
    * group value in one aggregation buffer, reintroducing exactly the
    * O(group-size) memory this query exists to avoid and skewing its
    * bench timing toward the exact path instead of the sketch being
    * measured. The bounds side is |groups|·4 rows, broadcast into the
    * sketch side's join.
    */
  val q66_approx_percentiles: Q = Q(
    "q66_approx_percentiles",
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  TRUE AS median_ok, TRUE AS p90_ok
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    def within(approx: org.apache.spark.sql.Column,
        lo: org.apache.spark.sql.Column,
        hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      approx >= lo && approx <= hi
    val orders = Tables.load(spark, dir, "orders")
    val approx = orders
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        percentile_approx($"o_totalprice", lit(0.5), lit(10000))
          .as("median_approx"),
        percentile_approx($"o_totalprice", lit(0.9), lit(10000))
          .as("p90_approx"))
    val bounds = graft.operators.Percentiles
      .exactCont(orders, "o_orderstatus", "o_totalprice",
        Seq(0.49, 0.51, 0.89, 0.91))
      .groupBy($"o_orderstatus")
      .agg(
        max(when($"p" === 0.49, $"value")).as("p49"),
        max(when($"p" === 0.51, $"value")).as("p51"),
        max(when($"p" === 0.89, $"value")).as("p89"),
        max(when($"p" === 0.91, $"value")).as("p91"))
    approx.join(broadcast(bounds), Seq("o_orderstatus"))
      .select($"o_orderstatus", $"n_orders",
        within($"median_approx", $"p49", $"p51").as("median_ok"),
        within($"p90_approx", $"p89", $"p91").as("p90_ok"))
      .orderBy($"o_orderstatus")
  }

  /** Skew-safe two-phase aggregation ([[graft.operators.Salt]]): the
    * salted count must equal the plain GROUP BY count — the oracle IS
    * the unsalted query, so this checks the rewrite's correctness, not
    * just that it runs. events.event_type is the skewed key (5 values
    * over every row); the salt spreads each key over 32 reducers.
    */
  val q67_salted_count: Q = Q(
    "q67_salted_count",
    """SELECT event_type, COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    graft.operators.Salt
      .saltedCount(Tables.load(spark, dir, "events"),
        key = "event_type", saltFrom = "user_id", n = 32)
      .orderBy($"event_type")
  }

  /** ROLLUP hierarchy aggregation via the DataFrame API (`.rollup` +
    * `grouping()`), complementing q7's SQL GROUPING SETS surface —
    * same Expand-based physical plan, declared from the typed side.
    */
  val q74_rollup: Q = Q(
    "q74_rollup",
    """SELECT COALESCE(lang, '(all)') AS lang,
      |  COALESCE(source, '(all)') AS source,
      |  CAST(GROUPING(lang) AS INT) + CAST(GROUPING(source) AS INT) AS grouping_level,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY ROLLUP (lang, source)
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .rollup($"lang", $"source")
      .agg(
        (grouping($"lang").cast("int") + grouping($"source").cast("int"))
          .as("grouping_level"),
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"))
      .select(
        coalesce($"lang", lit("(all)")).as("lang"),
        coalesce($"source", lit("(all)")).as("source"),
        $"grouping_level", $"n_docs", $"total_chars")
      .orderBy($"lang", $"source")
  }

  /** Equi-width histogram via width_bucket — distribution profiling
    * as one partial-aggregated pass (the engine-side shape behind
    * ANALYZE-style range statistics).
    */
  val q82_histogram: Q = Q(
    "q82_histogram",
    """SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
      |       WHEN o_totalprice >= 600000 THEN 13
      |       ELSE FLOOR(o_totalprice / 50000.0) + 1 END AS INT) AS bucket,
      |  COUNT(*) AS n_orders,
      |  CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
      |  CAST(MAX(o_totalprice) AS DOUBLE) AS hi
      |FROM orders
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy(width_bucket($"o_totalprice", lit(0), lit(600000), lit(12))
        .cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min($"o_totalprice").cast("double").as("lo"),
        max($"o_totalprice").cast("double").as("hi"))
      .orderBy($"bucket")
  }

  /** Column profiling (ANALYZE-style statistics): null count, distinct
    * count, min/max per column, one row per profiled column — the
    * stats a cost-based optimizer or data-quality monitor collects.
    * All columns profile in a single scan (one aggregate row,
    * unpivoted driver-side-free via stack).
    */
  val q83_profile: Q = Q(
    "q83_profile",
    """SELECT col, n_nulls, n_distinct, min_val, max_val FROM (
      |  SELECT 'o_custkey' AS col,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |    COUNT(DISTINCT o_custkey) AS n_distinct,
      |    CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
      |    CAST(MAX(o_custkey) AS VARCHAR) AS max_val
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus',
      |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    COUNT(DISTINCT o_orderstatus),
      |    MIN(o_orderstatus), MAX(o_orderstatus)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority',
      |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    COUNT(DISTINCT o_orderpriority),
      |    MIN(o_orderpriority), MAX(o_orderpriority)
      |  FROM orders) t
      |ORDER BY col""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority")
    // single scan: all per-column aggregates in ONE aggregate row,
    // then unpivot with stack — never one pass per column
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1).otherwise(0)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
    }
    val stackExpr = cols.map(c =>
      s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max")
      .mkString(s"stack(${cols.length}, ", ", ",
        ") as (col, n_nulls, n_distinct, min_val, max_val)")
    Tables.load(spark, dir, "orders")
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(stackExpr))
      .orderBy($"col")
  }

  /** Referential-integrity audit: orphan counts for each foreign-key
    * edge of the star schema — left anti joins, dimension side
    * broadcast, one row per edge.
    */
  val q84_integrity: Q = Q(
    "q84_integrity",
    """SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
      |  CAST((SELECT COUNT(*) FROM lineitem
      |        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT)
      |    AS n_orphans
      |UNION ALL
      |SELECT 'orders.o_custkey -> customer',
      |  CAST((SELECT COUNT(*) FROM orders
      |        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
      |UNION ALL
      |SELECT 'customer.c_nationkey -> nation',
      |  CAST((SELECT COUNT(*) FROM customer
      |        WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS BIGINT)
      |ORDER BY fk_edge""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    def orphans(edge: String, fact: String, fk: String,
        dim: String, pk: String) = {
      val d = Tables.load(spark, dir, dim).select(col(pk))
      Tables.load(spark, dir, fact)
        .join(d, col(fk) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(edge).as("fk_edge"), $"n_orphans")
    }
    orphans("lineitem.l_orderkey -> orders",
        "lineitem", "l_orderkey", "orders", "o_orderkey")
      .unionByName(orphans("orders.o_custkey -> customer",
        "orders", "o_custkey", "customer", "c_custkey"))
      .unionByName(orphans("customer.c_nationkey -> nation",
        "customer", "c_nationkey", "nation", "n_nationkey"))
      .orderBy($"fk_edge")
  }

  /** Pearson correlation per segment — computed from six EXACT
    * decimal aggregates (n, Σx, Σy, Σx², Σy², Σxy) with the double
    * arithmetic confined to the final scalar formula. A native
    * `corr()` accumulates doubles in partition order and is not
    * reproducible across engines; this decomposition is, and it
    * scales identically (one partial-aggregated pass). Inputs are
    * cent-scaled to scale-0 decimals first: correlation is
    * scale-invariant, and a scale-0 → double cast is ONE correctly
    * rounded conversion in both engines (a scale-k cast divides by
    * 10^k in double — a second rounding that diverges at the ulp).
    */
  val q86_exact_corr: Q = Q(
    "q86_exact_corr",
    """SELECT c_mktsegment,
      |  n,
      |  CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS DOUBLE)
      |    AS price_balance_corr
      |FROM (
      |  SELECT c_mktsegment, COUNT(*) AS n,
      |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))) AS sx,
      |    SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))) AS sy,
      |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))
      |      * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))) AS sxx,
      |    SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))
      |      * CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))) AS syy,
      |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))
      |      * CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))) AS sxy
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1) t
      |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val x = (money($"o_totalprice") * 100).cast(DecimalType(18, 0))
    val y = (money($"c_acctbal") * 100).cast(DecimalType(18, 0))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select($"c_mktsegment", $"n",
        ((d($"n") * d($"sxy") - d($"sx") * d($"sy"))
          / (sqrt(d($"n") * d($"sxx") - d($"sx") * d($"sx"))
            * sqrt(d($"n") * d($"syy") - d($"sy") * d($"sy"))))
          .cast("double").as("price_balance_corr"))
      .orderBy($"c_mktsegment")
  }

  val all: Seq[Q] = Seq(
    q1_agg, q2_count_distinct, q3_case_when, q4_filter_like,
    q5_scalar_funcs, q6_having_topk, q7_grouping_sets,
    q8_json_conditional, q9_approx_distinct, q62_percentiles,
    q66_approx_percentiles, q67_salted_count, q74_rollup,
    q82_histogram, q83_profile, q84_integrity, q86_exact_corr)
}
