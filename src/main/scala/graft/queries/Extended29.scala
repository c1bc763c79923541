package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Multimodal, Similarity}

/** Round-10 tranche I: the two capability closers the round-9 verdict
  * named — audio window energies through an exact column grid (q304,
  * the audio analog of q303's image treatment), and SemDeDup-style
  * semantic dedup composed from the existing ANN kernels (q305).
  *
  * Reference anchor: the curriculum's vector/similarity labs
  * (`3-spark-fundamentals`); audio + semantic dedup are the
  * training-data extensions (Abbas et al. 2023 for SemDeDup).
  */
object Extended29 {

  /** Per-window audio energies over SQL-synthesizable samples
    * ([[Multimodal.windowEnergies]]): each audio item (doc_id % 3 = 1,
    * the attachMedia convention) carries duration·8 synthetic 16-bit
    * samples `(doc_id·131 + i·17) mod 251 − 125`; 40-sample windows at
    * a 16-sample hop (5 s / 2 s at 8 Hz — q115's grid in samples),
    * trailing partials included; energy = Σ s² exact in longs. The
    * oracle replays samples, window arithmetic, and energy — so the
    * whole audio pipeline short of the codec is cross-engine-checked.
    * Samples are Let-bound: windowEnergies' per-window lambdas would
    * otherwise re-inline (and re-synthesize) the whole sample array
    * per window — the documented HOF trap (q303's lesson).
    */
  val q304_audio_energy: Q = Q(
    "q304_audio_energy",
    """WITH a AS (SELECT doc_id,
      |    ((doc_id * 7) % 240 + 1) * 8 AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |w AS (SELECT doc_id, n,
      |    unnest(generate_series(0,
      |      CAST(FLOOR((n - 1) / 16.0) AS INT))) AS win_idx
      |  FROM a),
      |e AS (SELECT doc_id, win_idx,
      |    list_reduce(list_transform(
      |      range(win_idx * 16, LEAST(win_idx * 16 + 40, n)),
      |      i -> ((doc_id * 131 + i * 17) % 251 - 125)
      |         * ((doc_id * 131 + i * 17) % 251 - 125)),
      |      (x, y) -> x + y) AS energy
      |  FROM w)
      |SELECT doc_id % 5 AS bucket,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_audio,
      |  CAST(COUNT(*) AS BIGINT) AS n_windows,
      |  CAST(SUM(energy) AS BIGINT) AS sum_energy,
      |  CAST(MAX(energy) AS BIGINT) AS max_energy
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val n = ((pmod($"doc_id" * 7, lit(240)) + 1) * 8).cast("int")
    val samples = transform(sequence(lit(0), n - 1), i =>
      pmod($"doc_id" * 131 + i * 17, lit(251)) - 125)
    Tables.load(spark, dir, "documents")
      .filter(pmod($"doc_id", lit(3)) === 1)
      .select($"doc_id",
        graft.functions.Let(samples)(s =>
          Multimodal.windowEnergies(s, windowLen = 40, hop = 16))
          .as("energies"))
      .select($"doc_id", explode($"energies").as("energy"))
      .groupBy(pmod($"doc_id", lit(5)).as("bucket"))
      .agg(
        countDistinct($"doc_id").as("n_audio"),
        count(lit(1)).as("n_windows"),
        sum($"energy").as("sum_energy"),
        max($"energy").as("max_energy"))
      .orderBy($"bucket")
  }

  /** SemDeDup over the embeddings table ([[Similarity.semDedup]]):
    * vectors 0..7 seed the cells (the q48 convention), within-cell
    * cosine ≥ 0.30 marks duplicate pairs (this synthetic corpus tops
    * out near 0.40 — 0.95 would be vacuous here; the operator is
    * threshold-parametric), pairs close into connected components
    * and each component keeps exactly its MIN vec_id (the paper's
    * keep-one-per-cluster semantics, r11 upgrade from the one-hop
    * larger-id drop). The oracle replays assignment (rn = 1 over cos
    * DESC, centroid_id — q48's exact recipe), the within-cell pair
    * scan, and the min-label fixpoint via a recursive CTE (the q88
    * discipline); output is the per-cell kept/total census plus a
    * kept-id checksum so the exact survivor SET is hash-pinned, not
    * just its size.
    */
  val q305_semantic_dedup: Q = Q(
    "q305_semantic_dedup",
    s"""WITH RECURSIVE c AS (SELECT vec_id AS centroid_id, embedding AS ce
      |  FROM embeddings WHERE vec_id < 8),
      |${OracleSql.semDedupCtes("embeddings", "")}
      |SELECT centroid_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |  CAST(SUM(CASE WHEN k.comp IS NULL OR k.comp = s.vec_id
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN k.comp IS NULL OR k.comp = s.vec_id
      |    THEN s.vec_id ELSE 0 END) AS BIGINT) AS kept_checksum
      |FROM sided s LEFT JOIN cc k ON s.vec_id = k.id
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid"))
    Similarity.semDedup(
        emb.select($"vec_id", $"embedding"), centroids,
        cosThreshold = 0.30)
      .groupBy($"centroid_id")
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"kept", $"vec_id").otherwise(0L)).as("kept_checksum"))
      .orderBy($"centroid_id")
  }

  val all: Seq[Q] = Seq(q304_audio_energy, q305_semantic_dedup)
}
