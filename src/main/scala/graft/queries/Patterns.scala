package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.operators._

/** The bootcamp's signature patterns (SURVEY modules 1/2/4a) applied to
  * the synthetic `events`/`customer` tables: SCD streaks, cumulation,
  * datelist_int bitmasks, growth accounting, retention, array metrics,
  * property-graph modeling.
  */
object Patterns {

  private val Anchor = "DATE '2024-01-01'"

  /** SCD type-2 backfill (reference `scd_generation_query.sql`): per
    * user, streaks of the daily activity class (active = ≥3 events that
    * day). Runs the generic [[graft.operators.Scd.backfill]] kernel.
    */
  val q30_scd_streaks: Q = Q(
    "q30_scd_streaks",
    s"""WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CASE WHEN COUNT(*) >= 3 THEN 'active' ELSE 'light' END AS activity_class
      |  FROM events GROUP BY 1, 2),
      |${OracleSql.ScdStreakCtes}
      |SELECT user_id, activity_class,
      |  MIN(day) AS start_day, MAX(day) AS end_day
      |FROM s GROUP BY user_id, activity_class, streak
      |ORDER BY user_id, start_day""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val daily = Tables.load(spark, dir, "events")
      .groupBy($"user_id", $"ts".cast("date").as("day"))
      .agg(when(count(lit(1)) >= 3, "active").otherwise("light")
        .as("activity_class"))
    Scd.backfill(daily, "user_id", "day", "activity_class")
      .orderBy($"user_id", $"start_day")
  }

  /** datelist_int bitmask fact (reference `generate_datelist.sql:12-19`
    * + `anaylze_datelist.sql:20-31`): one BIGINT per user encoding
    * January activity, with BIT_COUNT actives and a last-week AND-mask
    * probe. Single shuffle: per-row day bit OR'd straight into the
    * mask (bit_or aggregate — idempotent, map-side combined).
    */
  val q31_datelist_int: Q = Q(
    "q31_datelist_int",
    s"""WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
      |SELECT user_id,
      |  CAST(SUM(CASE WHEN CAST(day - $Anchor AS INT) BETWEEN 0 AND 63
      |    THEN 1::BIGINT << CAST(day - $Anchor AS INT) ELSE 0 END) AS BIGINT)
      |    AS datelist_int,
      |  CAST(bit_count(CAST(SUM(CASE WHEN CAST(day - $Anchor AS INT) BETWEEN 0 AND 63
      |    THEN 1::BIGINT << CAST(day - $Anchor AS INT) ELSE 0 END) AS BIGINT)) AS INT)
      |    AS n_active_days,
      |  (CAST(SUM(CASE WHEN CAST(day - $Anchor AS INT) BETWEEN 0 AND 63
      |    THEN 1::BIGINT << CAST(day - $Anchor AS INT) ELSE 0 END) AS BIGINT)
      |    & ${Datelist.windowMask(23, 7)}) != 0 AS active_last_week
      |FROM d GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val anchor = lit("2024-01-01").cast("date")
    Tables.loadParallel(spark, dir, "events")
      .groupBy($"user_id")
      .agg(Datelist.encodeAgg($"ts".cast("date"), anchor)
        .as("datelist_int"))
      .select($"user_id", $"datelist_int",
        Datelist.activeDays($"datelist_int").as("n_active_days"),
        Datelist.activeInWindow($"datelist_int", 23, 7)
          .as("active_last_week"))
      .orderBy($"user_id")
  }

  /** q32/q53's user-day calendar: active days `a`, first days `f`, and
    * `cal(user_id, first_day, day)` from each first day to the last.
    */
  private val CalendarCtes =
    """a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS first_day FROM a GROUP BY 1),
      |bounds AS (SELECT MAX(day) AS end_day FROM a),
      |cal AS (SELECT user_id, first_day,
      |    CAST(unnest(generate_series(first_day, end_day, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM f, bounds)""".stripMargin

  /** Growth accounting (reference `growth_accounting.sql:19-34`):
    * per-day counts of new/retained/resurrected/churned/stale users.
    */
  val q32_growth_accounting: Q = Q(
    "q32_growth_accounting",
    s"""WITH $CalendarCtes,
      |j AS (SELECT cal.user_id, cal.day, cal.first_day,
      |    (t.user_id IS NOT NULL) AS active,
      |    (y.user_id IS NOT NULL) AS active_yday
      |  FROM cal
      |  LEFT JOIN a t ON t.user_id = cal.user_id AND t.day = cal.day
      |  LEFT JOIN a y ON y.user_id = cal.user_id AND y.day = cal.day - 1)
      |SELECT day, state, COUNT(*) AS n_users FROM (
      |  SELECT day,
      |    CASE WHEN day = first_day THEN 'new'
      |         WHEN active AND active_yday THEN 'retained'
      |         WHEN active THEN 'resurrected'
      |         WHEN active_yday THEN 'churned'
      |         ELSE 'stale' END AS state
      |  FROM j) t
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    GrowthAccounting.dailyStates(
        Tables.load(spark, dir, "events"), "user_id", "ts")
      .groupBy($"day", $"state")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"day", $"state")
  }

  /** Cohort retention curve (reference `retention_analysis.sql:1-7`):
    * actives by days-since-first-activity.
    */
  val q33_retention: Q = Q(
    "q33_retention",
    """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS first_day FROM a GROUP BY 1)
      |SELECT CAST(a.day - f.first_day AS INT) AS day_n, COUNT(*) AS n_active
      |FROM a JOIN f ON a.user_id = f.user_id
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.loadParallel(spark, dir, "events")
      .groupBy($"user_id")
      .agg(collect_set($"ts".cast("date")).as("days"))
      .withColumn("first_day", array_min($"days"))
      .select($"user_id",
        explode($"days").as("day"), $"first_day")
      .groupBy(datediff($"day", $"first_day").as("day_n"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy($"day_n")
  }

  /** Monthly array metrics (reference `array_metrics_analysis.sql` +
    * positional `SUM(hit_array[i])`): per-user day-indexed event-count
    * arrays, zero-filled, aggregated positionally via posexplode.
    */
  val q34_array_metrics: Q = Q(
    "q34_array_metrics",
    s"""WITH d AS (SELECT CAST(CAST(ts AS DATE) - $Anchor AS INT) AS day_idx,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1),
      |bounds AS (SELECT MAX(day_idx) AS max_idx FROM d),
      |cal AS (SELECT UNNEST(generate_series(0, max_idx)) AS day_idx FROM bounds)
      |SELECT CAST(cal.day_idx AS INT) AS day_idx,
      |  CAST(COALESCE(d.n, 0) AS BIGINT) AS total
      |FROM cal LEFT JOIN d ON cal.day_idx = d.day_idx
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val anchor = lit("2024-01-01").cast("date")
    val perDay = Tables.load(spark, dir, "events")
      .groupBy($"user_id", $"ts".cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val arrays = ArrayMetrics.monthlyArray(
      perDay, "user_id", "day", "n_events", anchor)
    ArrayMetrics.positionalTotals(arrays, "metric_array")
      .select($"day_idx".cast("int").as("day_idx"), $"total")
      .orderBy($"day_idx")
  }

  /** Graph vertices (reference `team_vertices.sql` / `graph_ddls.sql`):
    * customers + nations as typed vertices with JSON property bags.
    */
  val q35_graph_vertices: Q = Q(
    "q35_graph_vertices",
    """SELECT CAST(c_custkey AS VARCHAR) AS identifier,
      |  'customer' AS vertex_type,
      |  to_json(struct_pack(name := c_name, segment := c_mktsegment)) AS properties
      |FROM customer
      |UNION ALL
      |SELECT CAST(n_nationkey AS VARCHAR) AS identifier,
      |  'nation' AS vertex_type,
      |  to_json(struct_pack(name := n_name, region := r_name)) AS properties
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY vertex_type, identifier""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    Graph.vertices(customer, $"c_custkey", "customer",
        Seq("name" -> $"c_name", "segment" -> $"c_mktsegment"))
      .unionByName(Graph.vertices(
        nation.join(broadcast(region), $"n_regionkey" === $"r_regionkey"),
        $"n_nationkey", "nation",
        Seq("name" -> $"n_name", "region" -> $"r_name")))
      .orderBy($"vertex_type", $"identifier")
  }

  /** Graph edges (reference `player_game_edges.sql` shape): each
    * customer linked to its nation.
    */
  val q36_graph_edges: Q = Q(
    "q36_graph_edges",
    """SELECT CAST(c_custkey AS VARCHAR) AS subject_identifier,
      |  'customer' AS subject_type,
      |  CAST(c_nationkey AS VARCHAR) AS object_identifier,
      |  'nation' AS object_type,
      |  'located_in' AS edge_type,
      |  to_json(struct_pack(segment := c_mktsegment)) AS properties
      |FROM customer
      |ORDER BY subject_identifier""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Graph.edges(Tables.load(spark, dir, "customer"),
        $"c_custkey", "customer", $"c_nationkey", "nation", "located_in",
        Seq("segment" -> $"c_mktsegment"))
      .orderBy($"subject_identifier")
  }

  /** Full-row dedup via group-by-all (reference A9,
    * `funnel_analysis.sql:1-6` / `dropDuplicates`).
    */
  val q37_dedup_rows: Q = Q(
    "q37_dedup_rows",
    """SELECT user_id, event_type, CAST(ts AS DATE) AS day
      |FROM events GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select($"user_id", $"event_type", $"ts".cast("date").as("day"))
      .dropDuplicates()
      .orderBy($"user_id", $"event_type", $"day")
  }

  /** The cumulation kernel end-to-end (reference J3/S15 upsert-merge,
    * `user_cumulated_populate.sql`): yesterday's cumulated snapshot
    * (through Jan 29) full-outer-merged with Jan 30 activity; result
    * must equal a direct full-history aggregation.
    */
  val q38_cumulate_merge: Q = Q(
    "q38_cumulate_merge",
    """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |           WHERE CAST(ts AS DATE) <= DATE '2024-01-30')
      |SELECT user_id, MIN(day) AS first_seen, MAX(day) AS last_seen,
      |  COUNT(*) AS n_active_days
      |FROM a GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val events = Tables.load(spark, dir, "events")
      .filter($"ts".cast("date") <= lit("2024-01-30").cast("date"))
    val yesterday = events
      .filter($"ts".cast("date") <= lit("2024-01-29").cast("date"))
      .groupBy($"user_id")
      .agg(
        min($"ts".cast("date")).as("first_seen"),
        max($"ts".cast("date")).as("last_seen"),
        countDistinct($"ts".cast("date")).as("n_active_days"))
    val today = events
      .filter($"ts".cast("date") === lit("2024-01-30").cast("date"))
      .select($"user_id", $"ts".cast("date").as("day"))
      .distinct()
    Cumulate.fullOuterMerge(yesterday, today, Seq("user_id"), Seq(
        Cumulate.MergeCol("first_seen",
          coalesce(col("y_first_seen"), col("t_day"))),
        Cumulate.MergeCol("last_seen",
          coalesce(col("t_day"), col("y_last_seen"))),
        Cumulate.MergeCol("n_active_days",
          coalesce(col("y_n_active_days"), lit(0L)) +
            when(col("t_day").isNotNull, 1L).otherwise(0L))))
      .orderBy($"user_id")
  }

  /** Cumulative dimension with struct-array history (the module-1
    * flagship, reference `players` / `pipeline_query.sql:9-43`): one
    * row per customer carrying the per-year order history as an array
    * of structs (emitted as JSON for representation-stable compare),
    * plus is_active / years_since_last_active bookkeeping.
    */
  val q39_cumulative_dim: Q = Q(
    "q39_cumulative_dim",
    """WITH d AS (SELECT o_custkey,
      |    CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1, 2),
      |m AS (SELECT MAX(yr) AS cur FROM d)
      |SELECT o_custkey,
      |  to_json(list(struct_pack(year := yr, n_orders := n_orders) ORDER BY yr))
      |    AS history,
      |  MAX(yr) AS last_active,
      |  MAX(yr) = ANY_VALUE(cur) AS is_active,
      |  CAST(ANY_VALUE(cur) - MAX(yr) AS INT) AS ordinals_since_last_active
      |FROM d, m
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val perYear = Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey", year($"o_orderdate").cast("int").as("yr"))
      .agg(count(lit(1)).as("n_orders"))
    CumulativeDim.direct(perYear, "o_custkey", "yr",
        struct($"yr".as("year"), $"n_orders"))
      .select($"o_custkey", to_json($"history").as("history"),
        $"last_active", $"is_active", $"ordinals_since_last_active")
      .orderBy($"o_custkey")
  }

  /** As-of join (time-series enrichment): every event joined to the
    * user's most recent order at or before the event time, via the
    * single-shuffle union+window [[graft.operators.AsOfJoin]] (DuckDB
    * oracles it with its native ASOF JOIN).
    */
  val q52_asof_join: Q = Q(
    "q52_asof_join",
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS ots,
      |         o_orderkey, o_totalprice
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
      |                  ORDER BY o_orderkey DESC) AS rn FROM orders) t
      |  WHERE rn = 1)
      |SELECT event_type,
      |  COUNT(*) AS n_events,
      |  COUNT(o.o_orderkey) AS n_matched,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS matched_value
      |FROM events ASOF LEFT JOIN o
      |  ON events.user_id = o.o_custkey AND o.ots <= events.ts
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val events = Tables.load(spark, dir, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey", $"o_orderdate")
      .orderBy($"o_orderkey".desc)
    val orders = Tables.load(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderdate".as("ots"), $"o_orderkey",
        $"o_totalprice")
    AsOfJoin.lastPrior(events, orders,
        $"user_id", $"o_custkey", $"ts", $"ots")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        count($"asof.o_orderkey").as("n_matched"),
        graft.functions.Exact.dsum($"asof.o_totalprice")
          .as("matched_value"))
      .orderBy($"event_type")
  }

  /** Weekly growth accounting (`user_growth_accounting.sql:5`
    * weekly_active_state): per-day counts with a 7-day activity
    * window.
    */
  val q53_growth_weekly: Q = Q(
    "q53_growth_weekly",
    s"""WITH $CalendarCtes,
      |j AS (SELECT cal.user_id, cal.day, cal.first_day,
      |    EXISTS (SELECT 1 FROM a WHERE a.user_id = cal.user_id
      |            AND a.day BETWEEN cal.day - 6 AND cal.day) AS wa,
      |    EXISTS (SELECT 1 FROM a WHERE a.user_id = cal.user_id
      |            AND a.day BETWEEN cal.day - 7 AND cal.day - 1) AS way
      |  FROM cal)
      |SELECT day, state, COUNT(*) AS n_users FROM (
      |  SELECT day,
      |    CASE WHEN day = first_day THEN 'new'
      |         WHEN wa AND way THEN 'retained'
      |         WHEN wa THEN 'resurrected'
      |         WHEN way THEN 'churned'
      |         ELSE 'stale' END AS state
      |  FROM j) t
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    GrowthAccounting.weeklyStates(
        Tables.load(spark, dir, "events"), "user_id", "ts")
      .groupBy($"day", $"state")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"day", $"state")
  }

  /** Datelist mask analysis (`anaylze_datelist.sql:20-31`): DAU / WAU
    * / MAU from the bitmask alone — no re-scan of raw activity.
    */
  val q54_datelist_analysis: Q = Q(
    "q54_datelist_analysis",
    s"""WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |m AS (SELECT user_id,
      |    CAST(SUM(CASE WHEN CAST(day - $Anchor AS INT) BETWEEN 0 AND 63
      |      THEN 1::BIGINT << CAST(day - $Anchor AS INT) ELSE 0 END) AS BIGINT)
      |      AS mask
      |  FROM d GROUP BY 1)
      |SELECT COUNT(*) AS n_users,
      |  CAST(SUM(CASE WHEN mask != 0 THEN 1 ELSE 0 END) AS BIGINT) AS monthly_active,
      |  CAST(SUM(CASE WHEN (mask & ${Datelist.windowMask(23, 7)}) != 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS weekly_active,
      |  CAST(SUM(CASE WHEN (mask & ${1L << 29}) != 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS active_last_day
      |FROM m""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val anchor = lit("2024-01-01").cast("date")
    Tables.loadParallel(spark, dir, "events")
      .groupBy($"user_id")
      .agg(Datelist.encodeAgg($"ts".cast("date"), anchor).as("mask"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(when($"mask" =!= 0, 1).otherwise(0)).cast("long")
          .as("monthly_active"),
        sum(when(Datelist.activeInWindow($"mask", 23, 7), 1).otherwise(0))
          .cast("long").as("weekly_active"),
        sum(when($"mask".bitwiseAND(lit(1L << 29)) =!= 0, 1).otherwise(0))
          .cast("long").as("active_last_day"))
  }

  /** Reduced monthly fact with two metric arrays (reference
    * `host_activity_reduced`: hit_array + unique_visitors,
    * `2-fact-data-modeling/homework/assignmnet_2.sql:210-260`): one row
    * per event_type per month carrying day-indexed totals and distinct
    * users, emitted comma-joined for representation-stable compare.
    */
  val q55_activity_reduced: Q = Q(
    "q55_activity_reduced",
    s"""WITH d AS (SELECT event_type,
      |    CAST(CAST(ts AS DATE) - $Anchor AS INT) AS day_idx,
      |    COUNT(*) AS hits,
      |    COUNT(DISTINCT user_id) AS uniq
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT MAX(day_idx) AS max_idx FROM d),
      |cal AS (SELECT event_type, day_idx FROM
      |    (SELECT DISTINCT event_type FROM d),
      |    (SELECT UNNEST(generate_series(0, (SELECT max_idx FROM bounds))) AS day_idx))
      |SELECT cal.event_type,
      |  STRING_AGG(CAST(COALESCE(d.hits, 0) AS VARCHAR), ',' ORDER BY cal.day_idx)
      |    AS hit_array,
      |  STRING_AGG(CAST(COALESCE(d.uniq, 0) AS VARCHAR), ',' ORDER BY cal.day_idx)
      |    AS unique_visitors
      |FROM cal LEFT JOIN d
      |  ON cal.event_type = d.event_type AND cal.day_idx = d.day_idx
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val anchor = lit("2024-01-01").cast("date")
    val perDay = Tables.load(spark, dir, "events")
      .groupBy($"event_type",
        datediff($"ts".cast("date"), anchor).as("day_idx"))
      .agg(count(lit(1)).as("hits"),
        countDistinct($"user_id").as("uniq"))
    val horizon = perDay.agg((max($"day_idx") + 1).as("n_days"))
    perDay
      .groupBy($"event_type")
      .agg(map_from_entries(collect_list(
        struct($"day_idx", struct($"hits", $"uniq")))).as("by_idx"))
      .crossJoin(broadcast(horizon))
      .select($"event_type",
        array_join(transform(sequence(lit(0), $"n_days" - 1), i =>
          coalesce(call_function("element_at", $"by_idx", i)
            .getField("hits"), lit(0L)).cast("string")), ",")
          .as("hit_array"),
        array_join(transform(sequence(lit(0), $"n_days" - 1), i =>
          coalesce(call_function("element_at", $"by_idx", i)
            .getField("uniq"), lit(0L)).cast("string")), ",")
          .as("unique_visitors"))
      .orderBy($"event_type")
  }

  /** Weekly cohort retention matrix: cohort (first-active week) ×
    * weeks-since-cohort → distinct actives. The 2-D form of `q33`'s
    * retention curve.
    */
  val q60_cohort_matrix: Q = Q(
    "q60_cohort_matrix",
    """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS first_day FROM a GROUP BY 1)
      |SELECT CAST(date_trunc('week', f.first_day) AS DATE) AS cohort_week,
      |  CAST((CAST(date_trunc('week', a.day) AS DATE)
      |      - CAST(date_trunc('week', f.first_day) AS DATE)) / 7 AS INT)
      |    AS week_n,
      |  COUNT(DISTINCT a.user_id) AS n_active
      |FROM a JOIN f ON a.user_id = f.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val actives = Tables.load(spark, dir, "events")
      .select($"user_id", $"ts".cast("date").as("day"))
      .distinct()
    // first_day via an unordered window over user_id — one exchange
    // of the actives frame, where the groupBy+self-join formulation
    // moved it twice (the oracle keeps the join form; values match)
    actives
      .withColumn("first_day",
        min($"day").over(Window.partitionBy($"user_id")))
      .groupBy(
        date_trunc("week", $"first_day").cast("date").as("cohort_week"),
        (datediff(date_trunc("week", $"day").cast("date"),
          date_trunc("week", $"first_day").cast("date")) / 7).cast("int")
          .as("week_n"))
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_week", $"week_n")
  }

  /** Pivot: event_type × day-of-week counts (the DataFrame
    * `groupBy().pivot()` API; oracle is conditional aggregation).
    */
  val q61_pivot: Q = Q(
    "q61_pivot",
    """SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy(dayofweek($"ts").cast("int").as("dow"))
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"dow")
  }

  /** Triangle census of the supplier co-supply graph: edges = the
    * top-2000 supplier pairs by shared part count (deterministic
    * tie-break, so the edge set is identical at every scale factor),
    * then the relational wedge/closure joins of
    * [[graft.operators.Graph.triangleCensus]]. Top-K bounds the edge
    * list by construction — the census joins broadcast at any SF; for
    * unbounded edge sets the same operator shuffle-partitions on the
    * vertex ids.
    */
  val q64_triangles: Q = Q(
    "q64_triangles",
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |pairs AS (SELECT b.l_suppkey AS u, a.l_suppkey AS v, COUNT(*) AS n
      |  FROM ps a JOIN ps b
      |    ON a.l_partkey = b.l_partkey AND a.l_suppkey > b.l_suppkey
      |  GROUP BY 1, 2),
      |edges AS (SELECT u, v FROM (
      |    SELECT u, v, ROW_NUMBER() OVER (ORDER BY n DESC, u, v) AS rn
      |    FROM pairs) t
      |  WHERE rn <= 2000),
      |wedges AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u),
      |tri AS (SELECT 1 FROM wedges w
      |  JOIN edges e3 ON w.a = e3.u AND w.c = e3.v)
      |SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
      |  CAST((SELECT COUNT(*) FROM wedges) AS BIGINT) AS n_wedges,
      |  CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pairs = Graph.coPairs(Tables.load(spark, dir, "lineitem"),
        $"l_partkey", $"l_suppkey", shufflePartitions, packKey = true,
        spreadGeneration = true)
      .select($"item_a".as("u"), $"item_b".as("v"), $"n")
    // a barrier: triangleCensus reads the edge list three times
    val edges = pairs
      .orderBy($"n".desc, $"u", $"v").limit(2000)
      .select($"u", $"v").transform(Barrier(_))
    Graph.triangleCensus(edges)
  }

  /** Daily DAU/WAU/MAU trend straight off the datelist_int bitmask
    * (reference `anaylze_datelist.sql:20-31` generalized to a
    * per-day series): one AND-mask probe per (user, day) instead of
    * re-scanning raw events per window — the whole trend costs one
    * pass over the per-user masks.
    */
  val q65_wau_mau_trend: Q = Q(
    "q65_wau_mau_trend",
    s"""WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |m AS (SELECT user_id,
      |    CAST(SUM(CASE WHEN CAST(day - $Anchor AS INT) BETWEEN 0 AND 63
      |      THEN 1::BIGINT << CAST(day - $Anchor AS INT) ELSE 0 END) AS BIGINT)
      |      AS mask
      |  FROM d GROUP BY 1),
      |cal AS (SELECT CAST(idx AS INT) AS idx FROM range(6, 30) t(idx))
      |SELECT $Anchor + idx AS day,
      |  CAST(SUM(CASE WHEN (mask & (1::BIGINT << idx)) != 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS dau,
      |  CAST(SUM(CASE WHEN (mask & (127::BIGINT << (idx - 6))) != 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS wau,
      |  CAST(SUM(CASE WHEN (mask &
      |      (((1::BIGINT << LEAST(idx + 1, 30)) - 1) << GREATEST(idx - 29, 0))) != 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS mau
      |FROM m, cal
      |GROUP BY idx ORDER BY day""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val anchor = lit("2024-01-01").cast("date")
    val masks = Tables.loadParallel(spark, dir, "events")
      .groupBy($"user_id")
      .agg(Datelist.encodeAgg($"ts".cast("date"), anchor).as("mask"))
      .select($"mask")
    val cal = spark.range(1)
      .select(explode(sequence(lit(6), lit(29))).as("idx"))
    def hit(m: org.apache.spark.sql.Column) =
      sum(when($"mask".bitwiseAND(m) =!= 0, 1).otherwise(0)).cast("long")
    val one = lit(1L)
    masks.crossJoin(broadcast(cal))
      .groupBy($"idx")
      .agg(
        hit(call_function("shiftleft", one, $"idx")).as("dau"),
        hit(call_function("shiftleft", lit(127L), $"idx" - 6)).as("wau"),
        hit(call_function("shiftleft",
          call_function("shiftleft", one, least($"idx" + 1, lit(30))) - 1,
          greatest($"idx" - 29, lit(0)))).as("mau"))
      .select(date_add(anchor, $"idx").as("day"), $"dau", $"wau", $"mau")
      .orderBy($"day")
  }

  /** SCD type-2 incremental fold (reference
    * `incremental_scd_query.sql:10-110`): yesterday's SCD table + one
    * new day of snapshots → the 4-way UNION of closed ∪
    * unchanged-extended ∪ changed(old+new) ∪ retired ∪ fresh periods.
    * The oracle replays the same union in SQL, so the merge semantics
    * themselves (not just an end-state equivalence) are hash-checked.
    * Scale: history and snapshot join once on the entity key; every
    * branch is a filter over that one joined frame.
    */
  val q69_scd_incremental: Q = Q(
    "q69_scd_incremental",
    s"""WITH d AS (
      |  SELECT user_id, CAST(CAST(ts AS DATE) - $Anchor AS INT) AS idx,
      |    CASE WHEN COUNT(*) >= 3 THEN 'active' ELSE 'light' END AS activity_class
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT *, CASE WHEN activity_class =
      |      LAG(activity_class) OVER (PARTITION BY user_id ORDER BY idx)
      |    THEN 0 ELSE 1 END AS changed
      |  FROM d WHERE idx < 29),
      |s AS (
      |  SELECT *, SUM(changed) OVER (PARTITION BY user_id ORDER BY idx
      |    ROWS UNBOUNDED PRECEDING) AS streak
      |  FROM c),
      |scd AS (
      |  SELECT user_id, activity_class,
      |    MIN(idx) AS start_idx, MAX(idx) AS end_idx
      |  FROM s GROUP BY user_id, activity_class, streak),
      |today AS (SELECT user_id, activity_class FROM d WHERE idx = 29),
      |open AS (SELECT * FROM scd WHERE end_idx = 28),
      |closed AS (SELECT * FROM scd WHERE end_idx != 28),
      |j AS (
      |  SELECT o.user_id AS e, o.activity_class AS a,
      |    o.start_idx AS si, o.end_idx AS ei,
      |    t.user_id AS te, t.activity_class AS ta
      |  FROM open o FULL OUTER JOIN today t ON o.user_id = t.user_id)
      |SELECT user_id, activity_class,
      |  CAST(start_idx AS INT) AS start_idx, CAST(end_idx AS INT) AS end_idx
      |FROM (
      |  SELECT user_id, activity_class, start_idx, end_idx FROM closed
      |  UNION ALL
      |  SELECT e, a, si, 29 FROM j
      |    WHERE e IS NOT NULL AND te IS NOT NULL AND a = ta
      |  UNION ALL
      |  SELECT e, a, si, ei FROM j
      |    WHERE e IS NOT NULL AND te IS NOT NULL AND a IS DISTINCT FROM ta
      |  UNION ALL
      |  SELECT te, ta, 29, 29 FROM j
      |    WHERE e IS NOT NULL AND te IS NOT NULL AND a IS DISTINCT FROM ta
      |  UNION ALL
      |  SELECT e, a, si, ei FROM j WHERE te IS NULL
      |  UNION ALL
      |  SELECT te, ta, 29, 29 FROM j WHERE e IS NULL) u
      |ORDER BY user_id, start_idx, end_idx, activity_class""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val anchor = lit("2024-01-01").cast("date")
    val daily = Tables.load(spark, dir, "events")
      .groupBy($"user_id",
        datediff($"ts".cast("date"), anchor).as("idx"))
      .agg(when(count(lit(1)) >= 3, "active").otherwise("light")
        .as("activity_class"))
    val hist = Scd.backfill(
      daily.filter($"idx" < 29), "user_id", "idx", "activity_class")
    val today = daily.filter($"idx" === 29)
      .select($"user_id", $"activity_class")
    Scd.incremental(hist, today, "user_id", "idx", "activity_class", 29)
      .select($"user_id", $"activity_class",
        $"start_idx".cast("int").as("start_idx"),
        $"end_idx".cast("int").as("end_idx"))
      .orderBy($"user_id", $"start_idx", $"end_idx", $"activity_class")
  }

  /** Snapshot diff / CDC (generic [[graft.operators.Diff]]): each
    * user's day-10 activity state vs day-11, classified added /
    * removed / changed / unchanged, summarized by class — the
    * day-over-day dimension-table diff every warehouse load audits.
    */
  val q81_snapshot_diff: Q = Q(
    "q81_snapshot_diff",
    s"""WITH b AS (SELECT user_id, COUNT(*) AS n_events,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
      |  FROM events WHERE CAST(ts AS DATE) = $Anchor + 9 GROUP BY 1),
      |a AS (SELECT user_id, COUNT(*) AS n_events,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
      |  FROM events WHERE CAST(ts AS DATE) = $Anchor + 10 GROUP BY 1),
      |d AS (SELECT COALESCE(a.user_id, b.user_id) AS user_id,
      |    CASE WHEN a.user_id IS NOT NULL AND b.user_id IS NOT NULL
      |           AND a.n_events IS NOT DISTINCT FROM b.n_events
      |           AND a.n_purchases IS NOT DISTINCT FROM b.n_purchases
      |         THEN 'unchanged'
      |         WHEN a.user_id IS NOT NULL AND b.user_id IS NOT NULL
      |         THEN 'changed'
      |         WHEN a.user_id IS NOT NULL THEN 'added'
      |         ELSE 'removed' END AS change_type
      |  FROM b FULL OUTER JOIN a ON b.user_id = a.user_id)
      |SELECT change_type, COUNT(*) AS n_users
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val anchor = lit("2024-01-01").cast("date")
    def state(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when($"event_type" === "purchase", 1).otherwise(0))
            .as("n_purchases"))
    val events = Tables.load(spark, dir, "events")
    val before = state(events.filter(
      $"ts".cast("date") === date_add(anchor, 9)))
    val after = state(events.filter(
      $"ts".cast("date") === date_add(anchor, 10)))
    Diff.snapshotDiff(before, after, Seq("user_id"))
      .groupBy($"change_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"change_type")
  }

  val all: Seq[Q] = Seq(
    q30_scd_streaks, q31_datelist_int, q32_growth_accounting,
    q33_retention, q34_array_metrics, q35_graph_vertices,
    q36_graph_edges, q37_dedup_rows, q38_cumulate_merge,
    q39_cumulative_dim, q52_asof_join, q53_growth_weekly,
    q54_datelist_analysis, q55_activity_reduced, q60_cohort_matrix,
    q61_pivot, q64_triangles, q65_wau_mau_trend, q69_scd_incremental,
    q81_snapshot_diff)
}