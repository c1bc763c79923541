package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Barrier
import graft.functions.Let

/** Embedding-cluster quality audit in EXACT integer space — "are the
  * labels/clusters actually separated, or is the partition arbitrary?"
  * — the internal-validity counterpart of the label-consistency kNN
  * check ([[Similarity.labelConsistency]]) and the external eval suite
  * (AUC/κ/nDCG): no ground-truth pairs needed, just geometry.
  *
  * The whole audit runs on int8-quantized codes ([[int8Codes]], the
  * q166/q261 convention): squared L2 distances of 0..255 longs are
  * exact integers, centroids are exact floor-means, and every ratio is
  * a guarded integer DIV — so the DuckDB oracle replays the geometry
  * bit-identically (cosine-on-doubles would hash-diverge on the last
  * ulp of a float sum, and its sum order is partition-dependent).
  *
  * Reference anchor: the curriculum's similarity/classification labs
  * (`3-spark-fundamentals` vector homework); the silhouette audit is
  * the training-data extension (Rousseeuw 1987's simplified —
  * centroid-based — silhouette, the variant that needs O(n·k) work
  * instead of O(n²) pairwise distances).
  */
object ClusterEval {

  /** Per-vector 0..255 quantization (the q166/q261 int8-code
    * convention): linear min–max scale per vector, floored to long.
    * Exact cross-engine: float→double casts, one multiply, one divide
    * and a floor are IEEE-identical in Spark and DuckDB; a constant
    * vector maps to all-zeros.
    */
  def int8Codes(e: Column): Column =
    Let(array_min(e).cast("double"), array_max(e).cast("double")) {
      (mn, mx) =>
        when(mx > mn, transform(e, v =>
          least(floor((v.cast("double") - mn) * 255 / (mx - mn))
            .cast("long"), lit(255L))))
          .otherwise(transform(e, _ => lit(0L)))
    }

  /** Exact squared L2 between two equal-length long-code arrays —
    * in-row fold, codegen'd higher-order functions, no UDF.
    */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L),
      (acc, x) => acc + x)

  /** All label centroids as ONE broadcastable row (`cents`:
    * array<struct<l, cv>>): per-dimension floor-means from one
    * map-side-combinable posexplode aggregate, assembled
    * deterministically (array_sort on (dim, cv) / (l, cv)) and
    * checkpointed — one bounded row distilled from a corpus
    * pass, never recomputed for the broadcast.
    */
  private def centsRow(pts: DataFrame): DataFrame =
    pts
      .select(col("label"), posexplode(col("codes")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
      .select(col("label"), col("dim"), expr("s DIV cnt").as("cv"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("cv")))),
        s => s("cv")).as("cent"))
      .agg(array_sort(collect_list(
        struct(col("label").as("l"), col("cent").as("cv"))))
        .as("cents"))
      .transform(Barrier(_))

  private def selectPts(vecs: DataFrame, idCol: String,
      labelCol: String, codesCol: String): DataFrame =
    vecs.select(col(idCol).as("id"),
      col(labelCol).cast("long").as("label"), col(codesCol).as("codes"))

  /** Simplified-silhouette audit per label over int-code vectors.
    *
    * Per point: a = squared distance to its OWN label centroid, b =
    * min squared distance to any OTHER label's centroid (with one
    * label in total, b falls back to a — silhouette 0), silhouette =
    * 10⁴·(b − a)/max(a, b) floored symmetrically (the CASE keeps both
    * engines on non-negative DIV). Centroids are per-dimension
    * floor-means — exact integers, deterministic under any row order.
    *
    * @param labelCol bounded-cardinality cluster/label key (the
    *                 centroid table must broadcast; ~thousands fine)
    * @return one row per label: `label, n, a_sum, b_sum, n_well`
    *         (points strictly closer to home than elsewhere),
    *         `mean_sil_bp` — label cast to long, ordered by label
    *
    * Scale shape: ONE posexplode-keyed aggregate builds the (label,
    * dim) sums map-side-combined (never a whole-corpus collect_list);
    * the assembled centroid table is label-bounded, collected to ONE
    * broadcast row, and a/b are computed IN-ROW against that array
    * (nested higher-order folds — no UDF) — so the corpus never rides
    * an n·k distance shuffle: its only exchanges are the dim-sum
    * partial aggregate and the final per-label rollup's bounded keys.
    * No windows, no pair joins — O(n·k) work, O(n) moved.
    */
  def silhouette(vecs: DataFrame, idCol: String, labelCol: String,
      codesCol: String): DataFrame = {
    val pts = selectPts(vecs, idCol, labelCol, codesCol)
    val ab = pts
      .crossJoin(broadcast(centsRow(pts)))
      .withColumn("a", sqDist(col("codes"),
        element_at(filter(col("cents"),
          c => c("l") === col("label")), 1)("cv")))
      .withColumn("b", coalesce(
        array_min(transform(
          filter(col("cents"), c => c("l") =!= col("label")),
          c => sqDist(col("codes"), c("cv")))),
        col("a")))
      .select(col("id"), col("label"), col("a"), col("b"))
    ab
      .withColumn("sil_bp", expr(
        """CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT)
          |  WHEN b >= a THEN (10000 * (b - a)) DIV greatest(a, b)
          |  ELSE -((10000 * (a - b)) DIV greatest(a, b))
          |  END""".stripMargin))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("a")).as("a_sum"),
        sum(col("b")).as("b_sum"),
        sum(when(col("b") > col("a"), 1L).otherwise(0L)).as("n_well"),
        sum(col("sil_bp")).as("_ss"))
      .selectExpr("label", "n", "a_sum", "b_sum", "n_well",
        """CASE WHEN _ss >= 0 THEN _ss DIV n
          |  ELSE -((0 - _ss) DIV n) END AS mean_sil_bp""".stripMargin)
      .orderBy(col("label"))
  }

  /** Davies–Bouldin audit per label in exact integer space: for each
    * label i, the worst ratio over other labels j of
    * `r_ij_milli = 1000·(ā_i + ā_j)/d_ij` where ā = mean squared
    * distance to the own centroid and d_ij = squared centroid–centroid
    * distance — computed as the single floor
    * `1000·(a_i·n_j + a_j·n_i) div (n_i·n_j·d_ij)` (one division at
    * the end; internal products ride decimal(38,0) / HUGEINT, safe to
    * n ≈ 10¹⁵ points). Lower is better-separated; the argmax names
    * the confuser. Merged centroids (d_ij = 0) pin the sentinel 10⁹
    * milli — "infinitely confusable", deterministically, instead of a
    * divide-by-zero. Ties break to the smaller other-label. A
    * single-label input yields zero rows (DB is undefined).
    *
    * Scale shape: one in-row distance pass (same broadcast centroid
    * row as [[silhouette]]) reduced to k (n, Σa) rows; everything
    * after — the k² ratio table, the per-label max — is
    * label-bounded. The per-label argmax window partitions by label
    * (bounded, never partition-less).
    *
    * @return one row per label (k ≥ 2): `label, n, a_sum,
    *         worst_label, db_milli`, ordered by label
    */
  def daviesBouldin(vecs: DataFrame, idCol: String, labelCol: String,
      codesCol: String): DataFrame = {
    val pts = selectPts(vecs, idCol, labelCol, codesCol)
    val cents = centsRow(pts)
    val stats = pts
      .crossJoin(broadcast(cents))
      .withColumn("a", sqDist(col("codes"),
        element_at(filter(col("cents"),
          c => c("l") === col("label")), 1)("cv")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("a")).as("a_sum"))
      .transform(Barrier(_)) // k rows distilled from the corpus pass —
                         // both sides of the ratio table read it
    val centTable = cents
      .select(explode(col("cents")).as("c"))
      .select(col("c.l").as("l"), col("c.cv").as("cv"))
    val pairs = centTable.as("x")
      .crossJoin(broadcast(centTable.as("y")))
      .filter(col("x.l") =!= col("y.l"))
      .select(col("x.l").as("li"), col("y.l").as("lj"),
        sqDist(col("x.cv"), col("y.cv")).as("dij"))
    val ratios = pairs
      .join(broadcast(stats.select(col("label").as("li"),
        col("n").as("ni"), col("a_sum").as("ai"))), Seq("li"))
      .join(broadcast(stats.select(col("label").as("lj"),
        col("n").as("nj"), col("a_sum").as("aj"))), Seq("lj"))
      .withColumn("r_milli", expr(
        """CASE WHEN dij = 0 THEN CAST(1000000000 AS BIGINT)
          |  ELSE CAST((1000 * (CAST(ai AS DECIMAL(38,0)) * nj
          |      + CAST(aj AS DECIMAL(38,0)) * ni))
          |    DIV (CAST(ni AS DECIMAL(38,0)) * nj * dij) AS BIGINT)
          |  END""".stripMargin))
    import org.apache.spark.sql.expressions.Window
    // bounded k² rows; the window partitions by label — never the
    // partition-less single-task funnel
    ratios
      .withColumn("_rn", row_number().over(Window.partitionBy(col("li"))
        .orderBy(col("r_milli").desc, col("lj"))))
      .filter(col("_rn") === 1)
      .join(broadcast(stats.select(col("label").as("li"), col("n"),
        col("a_sum"))), Seq("li"))
      .select(col("li").as("label"), col("n"), col("a_sum"),
        col("lj").as("worst_label"), col("r_milli").as("db_milli"))
      .orderBy(col("label"))
  }

  /** Nearest-centroid confusion matrix — the classifier-free label-
    * noise detector: each point is assigned to its closest label
    * centroid (exact squared L2 on int codes; ties break to the
    * smaller label via the (d2, l) struct sort — deterministic both
    * engines), and the (true label, assigned) counts expose which
    * labels bleed into which. Diagonal mass ≈ [[silhouette]]'s
    * `n_well` but per-target, so the off-diagonal names the confuser.
    *
    * Same scale shape as [[silhouette]]: one posexplode aggregate for
    * the centroids, ONE broadcast row, the argmin computed IN-ROW
    * (nested higher-order fold over ≤k candidates), and only the
    * bounded (label, assigned) keys shuffle.
    *
    * @return one row per non-empty cell: `label, assigned, n`,
    *         ordered by (label, assigned)
    */
  def nearestCentroidConfusion(vecs: DataFrame, idCol: String,
      labelCol: String, codesCol: String): DataFrame = {
    val pts = selectPts(vecs, idCol, labelCol, codesCol)
    pts
      .crossJoin(broadcast(centsRow(pts)))
      .withColumn("assigned",
        element_at(array_sort(transform(col("cents"),
          c => struct(sqDist(col("codes"), c("cv")).as("d2"),
            c("l").as("l")))), 1)("l"))
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("assigned"))
  }
}
