package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.Decontam

/** Round-10 tranche II: benchmark-driven n-gram decontamination — the
  * GPT-3 appendix-C rule ([[graft.operators.Decontam]]) over the
  * md5 train/val/test split q73 established, at sliding-13-gram
  * granularity with span-level run detection.
  *
  * Reference anchor: the curriculum's dataset-splitting labs
  * (`assignment_3_spark.py`); decontamination is the training-data
  * extension (Brown et al. 2020 appendix C).
  */
object Extended30 {

  /** Sliding-13-gram contamination census of the TRAIN split against
    * the TEST split ([[Decontam.ngramAudit]]): per source, audited
    * docs, flagged docs (≥ 1 colliding 13-gram), gram/hit totals, the
    * longest colliding run anywhere, and "dirty" docs whose longest
    * run spans ≥ 13 grams (= a ≥ 25-token verbatim overlap — a real
    * quotation, not phrase noise). The oracle replays tokenize →
    * 13-gram hash → benchmark semi-probe → gaps-and-islands run scan
    * declaratively, so per-position hits AND run boundaries are
    * hash-checked.
    */
  val q306_ngram_decontam: Q = Q(
    "q306_ngram_decontam",
    s"""WITH t AS (SELECT doc_id, source,
      |    string_split_regex(lower(text), '\\s+') AS tk,
      |    ${OracleSql.SplitSql} AS split
      |  FROM documents),
      |g AS (SELECT doc_id, source, split, tk,
      |    unnest(range(1, greatest(len(tk) - 12, 0) + 1)) AS i FROM t),
      |occ AS (SELECT doc_id, source, split, i - 1 AS pos,
      |    ('0x' || substr(md5(array_to_string(tk[i:i+12], ' ')), 1, 15))
      |      ::BIGINT AS hv FROM g),
      |bench AS (SELECT DISTINCT hv FROM occ WHERE split = 'test'),
      |pg AS (SELECT o.doc_id, o.source, o.pos,
      |    CASE WHEN b.hv IS NOT NULL THEN 1 ELSE 0 END AS hit
      |  FROM occ o LEFT JOIN bench b USING (hv) WHERE o.split = 'train'),
      |census AS (SELECT doc_id, source,
      |    COUNT(*) AS n_grams, SUM(hit) AS n_hit FROM pg GROUP BY 1, 2),
      |r AS (SELECT doc_id,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
      |      AS grp
      |  FROM pg WHERE hit = 1),
      |runs AS (SELECT doc_id, MAX(cnt) AS longest FROM
      |  (SELECT doc_id, grp, COUNT(*) AS cnt FROM r GROUP BY 1, 2)
      |  GROUP BY 1),
      |d AS (SELECT c.source, c.doc_id, c.n_grams, c.n_hit,
      |    COALESCE(runs.longest, 0) AS longest_run
      |  FROM census c LEFT JOIN runs USING (doc_id))
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flagged,
      |  CAST(SUM(n_grams) AS BIGINT) AS total_grams,
      |  CAST(SUM(n_hit) AS BIGINT) AS total_hits,
      |  CAST(MAX(longest_run) AS BIGINT) AS max_run,
      |  CAST(SUM(CASE WHEN longest_run >= 13 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_dirty
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
      .withColumn("_split", TextFunctions.datasetSplit($"doc_id"))
    val audit = Decontam.ngramAudit(
      docs.filter($"_split" === "train"),
      docs.filter($"_split" === "test"),
      "doc_id", "text", n = 13)
    audit
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"n_hit" > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum($"n_grams").cast("long").as("total_grams"),
        sum($"n_hit").as("total_hits"),
        max($"longest_run").as("max_run"),
        sum(when($"longest_run" >= 13, 1L).otherwise(0L)).as("n_dirty"))
      .orderBy($"source")
  }

  val all: Seq[Q] = Seq(q306_ngram_decontam)
}
