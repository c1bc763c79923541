package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.operators.{IncrementalAgg, Packing}

/** Round-6 second-session additions: materialized next-fit sequence
  * packing (the fold q174's window accounting cannot express),
  * lineage-based join-view retraction (closing the IVM family from
  * the join side), and temperature-resampled domain mixing (the τ=0.5
  * multilingual rebalance materialized through the deterministic md5
  * bucket).
  */
object Extended13 {

  private val PackCap = 96L
  private val ShardDocs = 64L

  /** Exact integer sqrt: double sqrt then a ±1 integer fix-up, so the
    * result is exact (and engine-identical) wherever the double is
    * within one ulp — far beyond any token count.
    */
  private def isqrt(c: Column): Column = {
    val s0 = floor(sqrt(c.cast("double"))).cast("long")
    when((s0 + 1) * (s0 + 1) <= c, s0 + 1)
      .when(s0 * s0 > c, s0 - 1)
      .otherwise(s0)
  }

  /** The same fix-up in DuckDB, over column expression `e`. */
  private def isqrtSql(e: String): String =
    s"""CASE WHEN (CAST(FLOOR(SQRT(CAST($e AS DOUBLE))) AS BIGINT) + 1)
       |      * (CAST(FLOOR(SQRT(CAST($e AS DOUBLE))) AS BIGINT) + 1)
       |      <= $e
       |    THEN CAST(FLOOR(SQRT(CAST($e AS DOUBLE))) AS BIGINT) + 1
       |    WHEN CAST(FLOOR(SQRT(CAST($e AS DOUBLE))) AS BIGINT)
       |      * CAST(FLOOR(SQRT(CAST($e AS DOUBLE))) AS BIGINT) > $e
       |    THEN CAST(FLOOR(SQRT(CAST($e AS DOUBLE))) AS BIGINT) - 1
       |    ELSE CAST(FLOOR(SQRT(CAST($e AS DOUBLE))) AS BIGINT) END""".stripMargin

  /** Materialized next-fit packing ([[Packing.nextFitStats]]):
    * documents are packed ATOMICALLY into 96-token training sequences
    * within 64-doc shards — a new sequence opens whenever the next doc
    * doesn't fit, and a doc longer than the cap flags as overflow
    * instead of splitting (q174's concat-and-chunk is the splitting
    * regime). Next-fit is a non-associative fold, so the shard bound
    * is the scale design: one shuffle groups each shard's docs into a
    * row, then the fold runs as a codegen'd higher-order `aggregate`
    * — no UDF, no driver state, every shard packing in parallel. The
    * fill checksum (Σ position·fill) pins the exact fold trajectory.
    *
    * The oracle replays the fold as a recursive CTE advancing ALL
    * shards one document per round (the q220 list-state technique,
    * but with rounds bounded by the 64-doc shard size rather than the
    * vocabulary).
    */
  val q232_shard_pack: Q = Q(
    "q232_shard_pack",
    s"""WITH RECURSIVE d AS (
      |  SELECT doc_id // $ShardDocs AS shard,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id // $ShardDocs
      |      ORDER BY doc_id) AS rn,
      |    CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
      |      AS n
      |  FROM documents),
      |st(shard, i, fills) AS (
      |  SELECT shard, 1, [n] FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT s.shard, s.i + 1,
      |    CASE WHEN s.fills[-1] + d.n <= $PackCap
      |         THEN list_append(array_pop_back(s.fills),
      |                          s.fills[-1] + d.n)
      |         ELSE list_append(s.fills, d.n) END
      |  FROM st s JOIN d ON d.shard = s.shard AND d.rn = s.i + 1),
      |fin AS (SELECT shard, fills FROM (
      |    SELECT shard, fills,
      |      ROW_NUMBER() OVER (PARTITION BY shard ORDER BY i DESC) AS r
      |    FROM st) t WHERE r = 1),
      |docstats AS (SELECT shard, COUNT(*) AS n_docs,
      |    CAST(SUM(n) AS BIGINT) AS total_tokens
      |  FROM d GROUP BY 1)
      |SELECT f.shard, ds.n_docs, ds.total_tokens,
      |  CAST(len(f.fills) AS BIGINT) AS n_seqs,
      |  CAST(list_sum(list_transform(f.fills,
      |    x -> greatest(0, $PackCap - x))) AS BIGINT) AS pad_tokens,
      |  CAST(len(list_filter(f.fills, x -> x > $PackCap)) AS BIGINT)
      |    AS n_overflow,
      |  CAST(list_sum(list_transform(range(1, len(f.fills) + 1),
      |    i -> i * f.fills[i])) AS BIGINT) AS fill_checksum
      |FROM fin f JOIN docstats ds ON f.shard = ds.shard
      |ORDER BY f.shard""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Packing.nextFitStats(
        Tables.loadParallel(spark, dir, "documents")
          .select(expr(s"doc_id DIV $ShardDocs").as("shard"), $"doc_id",
            size(graft.functions.TextFunctions.lowerTokens($"text"))
              .cast("long").as("n")),
        shardCol = "shard", orderCol = "doc_id", nCol = "n",
        cap = PackCap)
      .orderBy($"shard")
  }

  /** Lineage-based join-view retraction
    * ([[IncrementalAgg.joinRetract]]): a maintained orders⋈customer
    * view carries each row's source-row ids, and a CDC delete batch
    * (the urgent orders plus one nation's customers) retracts through
    * two BROADCAST ANTI-joins on those ids — the 100 TB view streams
    * map-side past the small delete sets; nothing re-joins and
    * nothing shuffles. The oracle joins the surviving source rows
    * from scratch, so hash equality proves the lineage retraction ≡
    * full recompute.
    */
  val q233_join_retract: Q = Q(
    "q233_join_retract",
    """SELECT o.o_orderkey, c.c_custkey, c.c_nationkey,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS cents
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderpriority <> '1-URGENT'
      |  AND c.c_nationkey <> 3""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val orders = Tables.loadParallel(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    val view = orders.join(cust, $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_custkey", $"c_nationkey",
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    IncrementalAgg.joinRetract(view,
      orders.filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey"), "o_orderkey",
      cust.filter($"c_nationkey" === 3).select($"c_custkey"),
      "c_custkey")
  }

  /** Temperature-resampled domain mixture (τ = 0.5): per-language
    * sampling weights ∝ √tokens — the standard multilingual rebalance
    * that lifts tail languages without the hard target shares of
    * q175. All arithmetic is exact integer basis points (isqrt is a
    * double sqrt plus a ±1 integer fix-up, engine-identical), the
    * per-language mass table is a broadcast dim, and the sample
    * itself materializes through the deterministic md5 bucket (q58's
    * discipline — never rand()), so the draw is reproducible and the
    * oracle replays it exactly. Never up-samples: keep rate caps at
    * 10000 bp.
    */
  val q234_temperature_sample: Q = Q(
    "q234_temperature_sample",
    s"""WITH d AS (SELECT doc_id, lang,
      |    CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
      |      AS n
      |  FROM documents),
      |mass AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS toks
      |  FROM d GROUP BY 1),
      |w AS (SELECT lang, toks, ${isqrtSql("toks")} AS wt FROM mass),
      |tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS total_toks,
      |    CAST(SUM(wt) AS BIGINT) AS total_w
      |  FROM w),
      |rates AS (SELECT lang, toks,
      |    LEAST(10000, wt * total_toks * 10000 // (total_w * toks))
      |      AS keep_bp
      |  FROM w, tot)
      |SELECT r.lang, r.toks, r.keep_bp,
      |  COUNT(CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
      |      1, 8))::BIGINT % 10000 < r.keep_bp THEN 1 END) AS n_kept,
      |  CAST(COALESCE(SUM(CASE WHEN ('0x' ||
      |      substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % 10000 < r.keep_bp THEN d.n END), 0) AS BIGINT)
      |    AS kept_toks
      |FROM d JOIN rates r ON d.lang = r.lang
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang",
        size(graft.functions.TextFunctions.lowerTokens($"text"))
          .cast("long").as("n"))
    // the per-language mass table is tiny but costs a corpus scan to
    // derive; TWO consumers (tot, rates) would re-derive it — so
    // checkpoint it (PLANS.md: checkpoint exactly what is expensive
    // to recompute, then broadcast explicitly — stats can't see
    // through a checkpoint)
    val mass = d.groupBy($"lang").agg(sum($"n").as("toks"))
      .withColumn("wt", isqrt($"toks"))
      .transform(Barrier(_))
    val tot = mass.agg(sum($"toks").as("total_toks"),
      sum($"wt").as("total_w"))
    // all operands non-negative → DIV ≡ flooring //; the one-row
    // total and the per-language rate table broadcast at any scale
    val rates = mass.crossJoin(broadcast(tot))
      .select($"lang", $"toks",
        least(lit(10000L),
          expr("(wt * total_toks * 10000) DIV (total_w * toks)"))
          .as("keep_bp"))
    val bucket =
      graft.plans.Md5PrefixLong($"doc_id".cast("string"), 8) % 10000
    d.join(broadcast(rates), Seq("lang"))
      .groupBy($"lang", $"toks", $"keep_bp")
      .agg(count(when(bucket < $"keep_bp", 1)).as("n_kept"),
        coalesce(sum(when(bucket < $"keep_bp", $"n")), lit(0L))
          .as("kept_toks"))
      .orderBy($"lang")
  }

  /** kNN label-consistency audit ([[Similarity.labelConsistency]]):
    * every vector's 5 nearest same-SRP-bucket neighbors vote with
    * their labels; a vector whose neighborhood majority disagrees is
    * a suspect (noisy label / outlier) — the cleanlab-style gate a
    * labeled corpus passes before training. 4 planes (the first 4
    * corpus vectors, so the oracle replays the index build
    * relationally, q70's discipline) keep the bucket self-join
    * bounded; agreement arithmetic is all integers, so only the
    * neighbor SELECTION depends on cosine — and that is the
    * bit-deterministic VectorDot fold with id tie-breaks.
    */
  val q235_label_consistency: Q = Q(
    "q235_label_consistency",
    s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe
      |  FROM embeddings WHERE vec_id < 4),
      |b AS (SELECT vec_id,
      |    CAST(SUM(CASE WHEN ${OracleSql.dotWrapped("e.embedding", "p.pe")} > 0
      |      THEN 1::BIGINT << pid ELSE 0 END) AS BIGINT) AS bucket
      |  FROM embeddings e CROSS JOIN p GROUP BY vec_id),
      |v AS (SELECT * FROM (SELECT vec_id, embedding, label,
      |    sqrt(${OracleSql.dotWrapped("embedding", "embedding")}) AS vn, bucket
      |  FROM embeddings JOIN b USING (vec_id)) t WHERE vn > 0),
      |pairs AS (SELECT a.vec_id, a.label, n.label AS nb_label,
      |    n.vec_id AS nb_id,
      |    ${OracleSql.dotWrapped("a.embedding", "n.embedding")} / (a.vn * n.vn) AS cos
      |  FROM v a JOIN v n USING (bucket)
      |  WHERE n.vec_id != a.vec_id),
      |topk AS (SELECT vec_id, label, nb_label FROM (
      |    SELECT vec_id, label, nb_label,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id
      |        ORDER BY cos DESC, nb_id) AS rn
      |    FROM pairs) t WHERE rn <= 5),
      |scored AS (SELECT vec_id, label, COUNT(*) AS n_nb,
      |    COUNT(CASE WHEN nb_label = label THEN 1 END) AS n_agree
      |  FROM topk GROUP BY 1, 2),
      |per_label AS (SELECT label, COUNT(*) AS n_scored,
      |    CAST(SUM(n_nb) AS BIGINT) AS sum_nb,
      |    CAST(SUM(n_agree) AS BIGINT) AS sum_agree,
      |    COUNT(CASE WHEN 2 * n_agree < n_nb THEN 1 END) AS n_suspect
      |  FROM scored GROUP BY 1),
      |tot AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings
      |  GROUP BY 1)
      |SELECT t.label, t.n_vecs,
      |  COALESCE(pl.n_scored, 0) AS n_scored,
      |  COALESCE(pl.sum_nb, 0) AS sum_nb,
      |  COALESCE(pl.sum_agree, 0) AS sum_agree,
      |  COALESCE(pl.n_suspect, 0) AS n_suspect
      |FROM tot t LEFT JOIN per_label pl ON t.label = pl.label
      |ORDER BY t.label""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    // index metadata: 4 plane vectors, collected once on the driver
    // (q70's driver-side role — bounded, never per-row)
    val planes: Seq[Seq[Double]] = emb.filter($"vec_id" < 4)
      .orderBy($"vec_id").select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val perLabel = Similarity.labelConsistency(
        emb.select($"vec_id", $"embedding", $"label"), planes, k = 5)
      .groupBy($"label")
      .agg(count(lit(1)).as("n_scored"),
        sum($"n_nb").as("sum_nb"),
        sum($"n_agree").as("sum_agree"),
        count(when(lit(2) * $"n_agree" < $"n_nb", 1)).as("n_suspect"))
    emb.groupBy($"label").agg(count(lit(1)).as("n_vecs"))
      .join(perLabel, Seq("label"), "left_outer")
      .select($"label", $"n_vecs",
        coalesce($"n_scored", lit(0L)).as("n_scored"),
        coalesce($"sum_nb", lit(0L)).as("sum_nb"),
        coalesce($"sum_agree", lit(0L)).as("sum_agree"),
        coalesce($"n_suspect", lit(0L)).as("n_suspect"))
      .orderBy($"label")
  }

  val all: Seq[Q] =
    Seq(q232_shard_pack, q233_join_retract, q234_temperature_sample,
      q235_label_consistency)
}
