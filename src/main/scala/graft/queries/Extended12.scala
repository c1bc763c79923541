package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.operators.{IncrementalAgg, Similarity}

/** Second-half round-6 additions: MIN/MAX-aware CDC retraction (the
  * keyed-recompute variant q225's algebraic operator refuses by
  * design) and the full distributed Lloyd's k-means fit (q139 ran a
  * single update step; q227 runs the whole loop with the same
  * fixed-point determinism choreography).
  */
object Extended12 {

  /** The q58/q228 md5 split bucket as DuckDB SQL over expression e. */
  private def splitSql(e: String): String =
    s"""CASE WHEN ('0x' || substr(md5(CAST($e AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'train'
       |     WHEN ('0x' || substr(md5(CAST($e AS VARCHAR)), 1, 8))::BIGINT % 100 < 95 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** CDC-delete maintenance of a view that carries MIN/MAX partials
    * ([[IncrementalAgg.retractWithRecompute]]): per-customer order
    * count / spend / max / min with the urgent-order batch retracted.
    * SUM/COUNT subtract algebraically; extremes are re-derived from
    * post-delete history for ONLY the keys the batch touches — the
    * delete batch's key set broadcasts into the history scan as a
    * semi-join, so at 100 TB untouched keys never rescan and the
    * recompute aggregates only the touched keys' rows. The oracle
    * aggregates the post-delete rows directly; hash equality proves
    * the subtract-plus-keyed-recompute reconstruction, including that
    * untouched keys' pass-through extremes equal a fresh aggregate.
    */
  val q226_retract_minmax: Q = Q(
    "q226_retract_minmax",
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_spend,
      |  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS max_price,
      |  CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS min_price
      |FROM orders WHERE o_orderpriority <> '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.Exact._
    val orders = Tables.load(spark, dir, "orders")
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(money($"o_totalprice")).as("_spend"),
          max(money($"o_totalprice")).as("max_price"),
          min(money($"o_totalprice")).as("min_price"))
    val remaining = orders
      .filter($"o_orderpriority" =!= "1-URGENT")
      .select($"o_custkey",
        money($"o_totalprice").as("max_price"),
        money($"o_totalprice").as("min_price"))
    IncrementalAgg.retractWithRecompute(
        partials(orders),
        partials(orders.filter($"o_orderpriority" === "1-URGENT")),
        remaining,
        keys = Seq("o_custkey"),
        sumCols = Seq("n_orders", "_spend"),
        countCol = "n_orders",
        maxCols = Seq("max_price"),
        minCols = Seq("min_price"))
      .select($"o_custkey", $"n_orders",
        $"_spend".cast("double").as("total_spend"),
        $"max_price".cast("double").as("max_price"),
        $"min_price".cast("double").as("min_price"))
      .orderBy($"o_custkey")
  }

  private val KmeansK = 8
  private val KmeansRounds = 3
  private val Dims = 64

  /** The DuckDB oracle unrolls the Lloyd's loop as chained CTEs (the
    * round count is a compile-time constant, so no recursion is
    * needed — unlike the BPE oracles' single-row-list recursion,
    * every round here is plain relational SQL). Per round: cosine
    * scores with sequential list_reduce folds (matching VectorDot's
    * left-to-right summation bit-for-bit), argmax by (cos DESC,
    * centroid_id), then the fixed-point centroid update — q139's
    * exactness choreography, iterated.
    */
  private def kmeansOracle: String = {
    def dotEE =
      s"""list_reduce(list_transform(range(1, ${Dims + 1}),
         |      i -> CAST(e.embedding[i] AS DOUBLE)
         |        * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin
    def dotEC =
      s"""list_reduce(list_transform(range(1, ${Dims + 1}),
         |      i -> CAST(e.embedding[i] AS DOUBLE) * c.ce[i]),
         |      (x, y) -> x + y)""".stripMargin
    def dotCC =
      s"""list_reduce(list_transform(range(1, ${Dims + 1}),
         |      i -> c.ce[i] * c.ce[i]), (x, y) -> x + y)""".stripMargin
    val rounds = (1 to KmeansRounds).map { r =>
      val prev = s"c${r - 1}"
      s"""s$r AS (SELECT e.vec_id, c.centroid_id,
         |    $dotEC
         |    / (sqrt($dotEE) * sqrt($dotCC)) AS cos
         |  FROM embeddings e, $prev c),
         |a$r AS (SELECT vec_id, centroid_id FROM (
         |  SELECT vec_id, centroid_id,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, centroid_id) AS rn
         |  FROM s$r) t WHERE rn = 1),
         |u$r AS (SELECT a.centroid_id, j.dim,
         |    CAST(FLOOR(CAST(SUM(CAST(FLOOR(
         |        CAST(e.embedding[j.dim + 1] AS DOUBLE) * 1000000)
         |      AS BIGINT)) AS DOUBLE) / COUNT(*)) AS BIGINT)
         |      AS comp_fp,
         |    COUNT(*) AS n_members
         |  FROM a$r a JOIN embeddings e USING (vec_id)
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${Dims - 1}))
         |    AS dim) j
         |  GROUP BY 1, 2),
         |c$r AS (SELECT centroid_id,
         |    list(CAST(comp_fp AS DOUBLE) / 1000000.0 ORDER BY dim)
         |      AS ce
         |  FROM u$r GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS (SELECT vec_id AS centroid_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
       |  FROM embeddings WHERE vec_id < $KmeansK),
       |$rounds
       |SELECT centroid_id, dim, comp_fp, n_members
       |FROM u$KmeansRounds ORDER BY 1, 2""".stripMargin
  }

  /** Full distributed k-means ([[Similarity.kmeansFit]]): 3 Lloyd
    * rounds over the embedding corpus, k=8 seeds. Each round is one
    * broadcast-assignment pass plus one (centroid, dim) shuffle; the
    * driver holds exactly k·d fixed-point components between rounds.
    * The clustering step that feeds SemDeDup (q182) and IVF (q48/q63)
    * — here the centroids are LEARNED rather than given.
    */
  val q227_kmeans_fit: Q = Q("q227_kmeans_fit", kmeansOracle) {
    (spark, dir) =>
    import spark.implicits._
    Similarity.kmeansFit(
        Tables.loadParallel(spark, dir, "embeddings")
          .select($"vec_id", $"embedding"),
        k = KmeansK, rounds = KmeansRounds)
      .orderBy($"centroid_id", $"dim")
  }

  /** Leakage-safe dataset split: q58 buckets each doc independently,
    * which lets two NEAR-DUPLICATES straddle train/test — the classic
    * eval-contamination bug. Here the hash bucket is driven by the
    * doc's near-dup GROUP representative (q88's SimHash pairs closed
    * into components; singletons represent themselves), so a whole
    * duplicate chain lands in one split BY CONSTRUCTION. The group
    * map is post-LSH tiny and explicitly broadcast back over the
    * corpus scan; the oracle replays pairs → recursive closure →
    * COALESCE(comp, doc_id) → the same md5 bucket, so hash equality
    * proves both the grouping and the assignment.
    */
  val q228_leakage_split: Q = Q(
    "q228_leakage_split",
    s"""WITH RECURSIVE ${OracleSql.SimhashPairs},
      |${OracleSql.components("pairs", "")},
      |rep AS (SELECT d.doc_id, d.n_chars, cc.comp,
      |    COALESCE(cc.comp, d.doc_id) AS rep
      |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id)
      |SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
      |            ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  COUNT(DISTINCT rep) AS n_groups,
      |  COUNT(comp) AS n_grouped_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM (SELECT n_chars, comp, rep,
      |        ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT
      |          % 100 AS b
      |      FROM rep) t
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.{Dedup, Graph}
    import graft.functions.TextFunctions.datasetSplit
    val docs = Tables.loadParallel(spark, dir, "documents")
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id",
        maxDist = 3, bands = 4)
      .select($"id_a".as("u"), $"id_b".as("v"))
    // post-LSH group map: tiny, checkpoint-derived → explicit
    // broadcast (PLANS.md: stats can't see through a checkpoint)
    val cc = Graph.connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id")
    docs.select($"doc_id", $"n_chars")
      .join(broadcast(cc), Seq("doc_id"), "left_outer")
      .select($"n_chars", $"comp",
        coalesce($"comp", $"doc_id").as("rep"))
      .groupBy(datasetSplit($"rep").as("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"rep").as("n_groups"),
        count($"comp").as("n_grouped_docs"),
        sum($"n_chars").as("total_chars"))
      .orderBy($"split")
  }

  /** Incremental dedup-group maintenance
    * ([[graft.operators.Graph.incrementalComponents]]): documents
    * whose id ends 0/1 play the NEWLY-ARRIVED batch — the old docs'
    * pair graph is labeled once, then only the delta edges (any pair
    * touching a new doc) are contracted through the old labels and
    * solved; the maintained labeling updates through broadcast maps
    * and never shuffles. The oracle closes ALL pairs declaratively,
    * so hash equality proves incremental ≡ full recompute on real
    * SimHash pairs (not just the property suite's random graphs).
    */
  val q229_incremental_cc: Q = Q(
    "q229_incremental_cc",
    s"""WITH RECURSIVE ${OracleSql.SimhashPairs},
      |${OracleSql.components("pairs", "")}
      |SELECT comp, COUNT(*) AS n_members,
      |  COUNT(CASE WHEN id % 10 < 2 THEN 1 END) AS n_new_docs
      |FROM cc GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.operators.{Dedup, Graph}
    def isNew(c: org.apache.spark.sql.Column) = c % 10 < 2
    // checkpoint before the old/delta filters — each would otherwise
    // re-run the whole LSH pipeline
    val pairs = Dedup.simhashNearDupPairs(
        Tables.loadParallel(spark, dir, "documents"), "text", "doc_id",
        maxDist = 3, bands = 4)
      .select($"id_a".as("u"), $"id_b".as("v"))
      .transform(Barrier(_))
    val ccOld = Graph.connectedComponents(
      pairs.filter(!isNew($"u") && !isNew($"v")))
    Graph.incrementalComponents(ccOld,
        pairs.filter(isNew($"u") || isNew($"v")))
      .groupBy($"comp")
      .agg(count(lit(1)).as("n_members"),
        count(when(isNew($"id"), 1)).as("n_new_docs"))
      .filter($"n_members" >= 2)
      .orderBy($"comp")
  }

  /** Split STABILITY under corpus growth — the follow-on problem q228
    * creates: when a new batch's near-dup edges merge groups, the
    * merged group's representative (component min) can change, so a
    * rep-hash split would silently reassign OLD documents — moving
    * already-trained-on text into the eval side, the retroactive
    * contamination failure. The sticky rule: a group containing old
    * members inherits the split of its MINIMUM old member (computed
    * from the OLD labeling — the assignment history), and only
    * genuinely-all-new groups hash fresh; the query reports exactly
    * how many old docs still churned (groups merged ACROSS old splits
    * — the irreducible minimum). All sticky machinery is
    * pairs-bounded; unpaired docs stay a pure map-side hash.
    */
  val q230_sticky_split: Q = Q(
    "q230_sticky_split",
    s"""WITH RECURSIVE ${OracleSql.SimhashPairs},
      |op AS (SELECT u, v FROM pairs WHERE u % 10 >= 2 AND v % 10 >= 2),
      |so AS (SELECT u AS a, v AS b FROM op UNION ALL SELECT v, u FROM op),
      |ro(id, lab) AS (
      |  SELECT DISTINCT a, a FROM so
      |  UNION
      |  SELECT s.b, r.lab FROM ro r JOIN so s ON r.id = s.a),
      |cco AS (SELECT id, MIN(lab) AS comp FROM ro GROUP BY id),
      |sa AS (SELECT u AS a, v AS b FROM pairs
      |  UNION ALL SELECT v, u FROM pairs),
      |ra(id, lab) AS (
      |  SELECT DISTINCT a, a FROM sa
      |  UNION
      |  SELECT s.b, r.lab FROM ra r JOIN sa s ON r.id = s.a),
      |cca AS (SELECT id, MIN(lab) AS comp FROM ra GROUP BY id),
      |mem AS (SELECT a.id AS doc_id, a.comp,
      |    a.id % 10 < 2 AS is_new,
      |    CASE WHEN a.id % 10 >= 2 THEN COALESCE(o.comp, a.id) END
      |      AS rep_old
      |  FROM cca a LEFT JOIN cco o ON a.id = o.id),
      |anch AS (SELECT comp, MIN(doc_id) AS anchor_id FROM mem
      |  WHERE NOT is_new GROUP BY 1),
      |anchrep AS (SELECT n.comp, m.rep_old AS anchor_rep
      |  FROM anch n JOIN mem m ON n.anchor_id = m.doc_id),
      |paired AS (SELECT m.doc_id, m.is_new,
      |    ${splitSql("COALESCE(ar.anchor_rep, m.comp)")} AS split,
      |    (NOT m.is_new) AND
      |      ${splitSql("COALESCE(ar.anchor_rep, m.comp)")}
      |        <> ${splitSql("m.rep_old")} AS churn
      |  FROM mem m LEFT JOIN anchrep ar ON m.comp = ar.comp),
      |unpaired AS (SELECT d.doc_id, d.doc_id % 10 < 2 AS is_new,
      |    ${splitSql("d.doc_id")} AS split, FALSE AS churn
      |  FROM documents d
      |  WHERE d.doc_id NOT IN (SELECT doc_id FROM mem)),
      |allrows AS (SELECT * FROM paired UNION ALL SELECT * FROM unpaired)
      |SELECT split, COUNT(*) AS n_docs,
      |  COUNT(CASE WHEN is_new THEN 1 END) AS n_new_docs,
      |  COUNT(CASE WHEN churn THEN 1 END) AS n_churned
      |FROM allrows GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.{Dedup, Graph}
    import graft.functions.TextFunctions.datasetSplit
    def isNew(c: org.apache.spark.sql.Column) = c % 10 < 2
    val docs = Tables.loadParallel(spark, dir, "documents")
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id",
        maxDist = 3, bands = 4)
      .select($"id_a".as("u"), $"id_b".as("v"))
      .transform(Barrier(_))
    val ccOld = Graph.connectedComponents(
      pairs.filter(!isNew($"u") && !isNew($"v")))
    val ccAll = Graph.incrementalComponents(ccOld,
      pairs.filter(isNew($"u") || isNew($"v")))
    // pairs-bounded membership with each member's OLD representative
    val members = ccAll.withColumnRenamed("id", "doc_id")
      .join(broadcast(ccOld.select($"id".as("doc_id"),
        $"comp".as("comp_old"))), Seq("doc_id"), "left_outer")
      .withColumn("is_new", isNew($"doc_id"))
      .withColumn("rep_old",
        when(!$"is_new", coalesce($"comp_old", $"doc_id")))
      .transform(Barrier(_))
    val anchorRep = broadcast(members.filter(!$"is_new")
        .groupBy($"comp").agg(min($"doc_id").as("anchor_id")))
      .join(members.select($"doc_id".as("anchor_id"),
        $"rep_old".as("anchor_rep")), Seq("anchor_id"))
      .select($"comp", $"anchor_rep")
    val paired = members
      .join(broadcast(anchorRep), Seq("comp"), "left_outer")
      .select($"is_new",
        datasetSplit(coalesce($"anchor_rep", $"comp")).as("split"),
        (!$"is_new" && datasetSplit(coalesce($"anchor_rep", $"comp"))
          =!= datasetSplit($"rep_old")).as("churn"))
    val unpaired = docs.select($"doc_id")
      .join(broadcast(members.select($"doc_id")), Seq("doc_id"),
        "left_anti")
      .select(isNew($"doc_id").as("is_new"),
        datasetSplit($"doc_id").as("split"), lit(false).as("churn"))
    paired.unionByName(unpaired)
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"is_new", 1)).as("n_new_docs"),
        count(when($"churn", 1)).as("n_churned"))
      .orderBy($"split")
  }

  /** Dedup-group RETRACTION
    * ([[graft.operators.Graph.retractComponents]]): q229's narrative
    * run backwards — the id-ends-0/1 batch is DELETED from the full
    * labeling, and only the components it touches re-solve from the
    * retained pair log (batch-groups-bounded broadcast filters;
    * untouched components pass through). The oracle closes only the
    * pairs among surviving docs, so hash equality proves
    * retract(labels(all), batch) ≡ labels(all − batch) on real
    * SimHash pairs — the add/retract round-trip q229+q231 pin from
    * both directions.
    */
  val q231_retract_group: Q = Q(
    "q231_retract_group",
    s"""WITH RECURSIVE ${OracleSql.SimhashPairs},
      |op AS (SELECT u, v FROM pairs WHERE u % 10 >= 2 AND v % 10 >= 2),
      |${OracleSql.components("op", "")}
      |SELECT comp, COUNT(*) AS n_members FROM cc
      |GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    import graft.operators.{Dedup, Graph}
    val docs = Tables.loadParallel(spark, dir, "documents")
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id",
        maxDist = 3, bands = 4)
      .select($"id_a".as("u"), $"id_b".as("v"))
      .transform(Barrier(_)) // labeling AND retained edge log
    val labels = Graph.connectedComponents(pairs)
    val deleted = docs.select($"doc_id".as("id"))
      .filter($"id" % 10 < 2)
    Graph.retractComponents(labels, pairs, deleted)
      .groupBy($"comp")
      .agg(count(lit(1)).as("n_members"))
      .filter($"n_members" >= 2)
      .orderBy($"comp")
  }

  val all: Seq[Q] = Seq(q226_retract_minmax, q227_kmeans_fit,
    q228_leakage_split, q229_incremental_cc, q230_sticky_split,
    q231_retract_group)
}
