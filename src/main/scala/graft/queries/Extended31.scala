package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.functions.TextFunctions
import graft.operators.{Decontam, Dedup, ExactSubstr, Similarity}

/** Round-11 tranche: the end-to-end curation composition — the
  * "100 TB pipeline" story in ONE oracle-checked artifact. q307 chains
  * the now-complete dedup/curation ladder over `documents`:
  *
  *   raw → exact fingerprint dedup (q43's rule) → exact-substring
  *   coverage gate (q287's spans: drop docs that are mostly verbatim
  *   copies) → MinHash+LSH near-dup dedup (q78) → SemDeDup semantic
  *   dedup (q305, component-exact) → benchmark n-gram decontamination
  *   on the train split (q306) → per-source token-budget packing (q75)
  *
  * and asserts the per-stage survivor COUNT and survivor-id CHECKSUM,
  * so any inter-stage keep-list/schema mismatch (wrong id side kept,
  * a filter applied to the wrong survivor set, a stage silently
  * re-reading the raw corpus) breaks the hash — stage by stage, not
  * just at the end. Exact-substring runs BEFORE MinHash so both
  * fuzzy stages do real work on this corpus: the verbatim-copy docs
  * carry ≥50% duplicated spans (the substring gate's prey), while the
  * shuffled/reworded near-dups have high Jaccard but no long
  * contiguous run (MinHash's prey).
  *
  * Reference anchor: the curriculum's dedup + splitting labs
  * (`2-fact-data-modeling` dedup homework, `assignment_3_spark.py`
  * splits); the composition itself is the training-data north star.
  */
object Extended31 {

  // stage thresholds — the operators' established defaults where one
  // exists (substring spans k8/L16 = q287, gate = spans covering HALF
  // the tokens; minhash jaccard 0.8/k16/b4 = q78; semdedup tau 0.30 =
  // q305; decontam 13-gram dirty run >= 13 = q306; pack rule = q75
  // at a budget of 500 tokens/source so the greedy cut bites on the
  // post-dedup corpus)
  val q307_curation_e2e: Q = Q(
    "q307_curation_e2e",
    s"""WITH RECURSIVE
      |${OracleSql.CurationStagesSql},
      |c4 AS (SELECT vec_id AS centroid_id, embedding AS ce
      |  FROM embeddings WHERE vec_id < 8),
      |e4 AS (SELECT e.vec_id, e.embedding FROM embeddings e
      |  JOIN s3 ON e.vec_id = s3.doc_id),
      |${OracleSql.semDedupCtes("e4", "4")},
      |s4 AS (SELECT s.vec_id AS doc_id FROM sided4 s
      |  LEFT JOIN cc4 k ON s.vec_id = k.id
      |  WHERE k.comp IS NULL OR k.comp = s.vec_id),
      |${OracleSql.decontamCtes("s4")},
      |s5 AS (SELECT doc_id FROM t5
      |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty5)),
      |d6 AS (SELECT d.doc_id, d.source,
      |    string_split_regex(lower(d.text), '\\s+') AS tk
      |  FROM documents d JOIN s5 USING (doc_id)),
      |q6 AS (SELECT doc_id, source, len(tk) AS nt,
      |    CAST(len(list_filter(tk,
      |      w -> list_contains(['the','a','of','and','to','in','is','for','on','with'], w))) AS DOUBLE)
      |      / len(tk) AS quality FROM d6),
      |w6 AS (SELECT *, SUM(nt) OVER (PARTITION BY source
      |    ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM q6),
      |s6 AS (SELECT doc_id FROM w6 WHERE cum <= 500),
      |st AS (
      |  SELECT '0_raw' AS stage, COUNT(*) AS n, COALESCE(SUM(doc_id), 0) AS ck FROM documents
      |  UNION ALL SELECT '1_exact', COUNT(*), COALESCE(SUM(doc_id), 0) FROM s1
      |  UNION ALL SELECT '2_exactsubstr', COUNT(*), COALESCE(SUM(doc_id), 0) FROM s2
      |  UNION ALL SELECT '3_minhash', COUNT(*), COALESCE(SUM(doc_id), 0) FROM s3
      |  UNION ALL SELECT '4_semdedup', COUNT(*), COALESCE(SUM(doc_id), 0) FROM s4
      |  UNION ALL SELECT '5_decontam', COUNT(*), COALESCE(SUM(doc_id), 0) FROM s5
      |  UNION ALL SELECT '6_pack', COUNT(*), COALESCE(SUM(doc_id), 0) FROM s6)
      |SELECT stage, CAST(n AS BIGINT) AS n_survivors,
      |  CAST(ck AS BIGINT) AS id_checksum
      |FROM st ORDER BY stage""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // round-12 measurement note: checkpointing ONE shared docs DF for
    // all six stages was tried and REVERTED — the per-stage
    // scan+repartition lineage costs nothing measurable at sf0.1
    // (solo 7.12 s before vs 7.26 s with the checkpoint), and at
    // corpus scale re-scans with column pruning beat materializing
    // the text column into executor storage. Stages take `docs` as a
    // parameter now (one place to change if that trade ever flips).
    val docs = Tables.loadParallel(spark, dir, "documents")
    // r13, guide §2.6: the decontamination stage's benchmark gram set
    // (the held-out test split of the RAW corpus) is the one stage
    // input independent of the whole survivor chain — build and
    // materialize it on a background thread while stages 1-4 run,
    // instead of serializing it into stage 5's checkpoint job. Still
    // computed fresh per invocation; only the SCHEDULE overlaps.
    val benchGrams = graft.core.Par.bg {
      graft.operators.Decontam.benchGramsOf(
        docs.filter(TextFunctions.datasetSplit($"doc_id") === "test"),
        "doc_id", "text", n = 13).transform(Barrier(_))
    }
    val s1 = stage1(spark, docs)
    val s2 = stage2(spark, s1, docs)
    val s3 = stage3(spark, s2, docs)
    val s4 = stage4(spark, dir, s3)
    val s5 = stage5(spark, s4, docs, benchGrams())
    val s6 = stage6(spark, s5, docs)
    Seq(
      census("0_raw", docs.select($"doc_id")),
      census("1_exact", s1), census("2_exactsubstr", s2),
      census("3_minhash", s3), census("4_semdedup", s4),
      census("5_decontam", s5), census("6_pack", s6))
      .reduce(_ unionByName _)
      .orderBy($"stage")
  }

  // ---- the ladder stages q307 composes ----

  /** stage 1 — exact dedup: keep the min doc_id per fingerprint
    * (q43's key); a map-side-combined group-by, never a window.
    * Checkpointed: every later stage count + stage 2 read it.
    */
  private def stage1(spark: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    docs
      .select($"doc_id", TextFunctions.fingerprint($"text").as("_fp"))
      .groupBy($"_fp").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id").transform(Barrier(_))
  }

  /** stage 2 — exact-substring coverage gate (q287's spans): drop
    * any survivor whose merged >=16-token cross-doc duplicate spans
    * cover at least HALF its tokens (the verbatim-copy docs).
    */
  private def stage2(spark: org.apache.spark.sql.SparkSession,
      s1: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val d1 = docs.join(s1, "doc_id")
    val cov = ExactSubstr.dupSpans(d1, "doc_id", "text",
        k = 8, minTokens = 16)
      .groupBy($"doc".as("doc_id")).agg(sum($"len").as("_dup"))
    d1.select($"doc_id",
        size(TextFunctions.lowerTokens($"text")).as("_n"))
      .join(cov, Seq("doc_id"), "left")
      .filter(coalesce($"_dup", lit(0L)) * 2 < $"_n")
      .select($"doc_id").transform(Barrier(_))
  }

  /** stage 3 — MinHash+LSH near-dup dedup over the substring-gate
    * survivors (q78's operator: banded candidates → Jaccard >= 0.8
    * verify — catches the reworded/shuffled near-dups whose spans
    * the substring gate can't see).
    */
  private def stage3(spark: org.apache.spark.sql.SparkSession,
      s2: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Dedup.nearDupDedup(docs.join(s2, "doc_id"),
        "text", "doc_id", jaccardThreshold = 0.8, k = 16, bands = 4)
      .select($"doc_id").transform(Barrier(_))
  }

  /** stage 4 — SemDeDup over the survivors' embeddings (vec_id =
    * doc_id; q305's operator, component-exact keep lists).
    */
  private def stage4(spark: org.apache.spark.sql.SparkSession,
      dir: String, s3: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid"))
    Similarity.semDedup(
        emb.join(s3, $"vec_id" === $"doc_id")
          .select($"vec_id", $"embedding"),
        centroids, cosThreshold = 0.30)
      .filter($"kept")
      .select($"vec_id".as("doc_id"))
      .transform(Barrier(_))
  }

  /** stage 5 — decontamination (q306's audit): the TRAIN-split
    * survivors, minus any doc with a >=13-gram colliding run against
    * the ORIGINAL corpus's held-out test split (the benchmark is
    * external to the dedup chain).
    */
  private def stage5(spark: org.apache.spark.sql.SparkSession,
      s4: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame,
      benchGrams: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val train = docs.join(s4, "doc_id")
      .filter(TextFunctions.datasetSplit($"doc_id") === "train")
    // the benchmark gram set is chain-independent: the composite
    // prefetches it on a background thread (guide §2.6) and passes it in
    val dirty = Decontam.ngramAuditGrams(train, benchGrams,
        "doc_id", "text", n = 13)
      .filter($"longest_run" >= 13)
      .select($"doc_id")
    train.select($"doc_id")
      .join(dirty, Seq("doc_id"), "left_anti")
      .transform(Barrier(_))
  }

  /** stage 6 — per-source token-budget packing (q75's greedy rule:
    * stopword-ratio quality desc, doc_id tie-break, cum <= 500).
    * NOT checkpointed — it is the ladder's lazy tail.
    */
  private def stage6(spark: org.apache.spark.sql.SparkSession,
      s5: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val q = docs.join(s5, "doc_id")
      .withColumn("_ltoks", TextFunctions.lowerTokens($"text"))
      .select($"doc_id", $"source", size($"_ltoks").as("_nt"),
        (size(filter($"_ltoks",
            w => w.isin(TextFunctions.EnStopwords: _*)))
          .cast("double") / size($"_ltoks")).as("_q"))
    val w = Window.partitionBy($"source")
      .orderBy($"_q".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.withColumn("_cum", sum($"_nt").over(w))
      .filter($"_cum" <= 500)
      .select($"doc_id")
  }

  /** census: count + id checksum, so the exact survivor SET of a
    * stage is hash-pinned, not just its size.
    */
  private def census(stage: String,
      ids: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    ids.agg(count(lit(1)).as("n_survivors"),
        coalesce(sum(org.apache.spark.sql.functions.col("doc_id")),
          lit(0L)).as("id_checksum"))
      .select(lit(stage).as("stage"),
        org.apache.spark.sql.functions.col("n_survivors"),
        org.apache.spark.sql.functions.col("id_checksum"))
  }

  val all: Seq[Q] = Seq(q307_curation_e2e)
}
