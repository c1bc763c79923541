package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{CdcChunk, Winnow}

/** Round-8 tranche XI: the asymmetric-dup closers — containment
  * scoring over the winnow index (resemblance treats a doc quoted
  * inside a 10× larger one as dissimilar; containment catches it),
  * and the incremental arrival pattern for content-defined chunks
  * (today's crawl against the standing corpus index — the shape a
  * daily pipeline actually runs, CDC-chunk flavored so insertions in
  * re-crawled pages don't break alignment).
  */
object Extended25 {

  /** Winnow containment ([[Winnow]] index, q270 parameters): for each
    * document with kept fingerprints, its best-contained score
    * `cont_bp = 10⁴·shared div nfp(doc)` over all partners — shared
    * counts and per-doc fingerprint counts both on the df-capped
    * (2..20) index, so the rational is self-consistent. Partner ties
    * break (cont_bp desc, partner asc). A doc fully quoted inside a
    * larger one scores 10⁴ here while its Jaccard resemblance stays
    * low — the asymmetric-dup case resemblance misses.
    */
  val q285_winnow_containment: Q = Q(
    "q285_winnow_containment",
    s"""WITH ${OracleSql.winnowPairCtes},
      |nf AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS nfp FROM kept
      |  GROUP BY 1),
      |dir AS (SELECT a AS doc, b AS partner, shared FROM pairs
      |  UNION ALL SELECT b, a, shared FROM pairs),
      |sc AS (SELECT dir.doc, dir.partner,
      |    CAST((10000 * dir.shared) // nf.nfp AS BIGINT) AS cont_bp,
      |    nf.nfp
      |  FROM dir JOIN nf ON dir.doc = nf.doc),
      |best AS (SELECT doc, partner, cont_bp, nfp,
      |    ROW_NUMBER() OVER (PARTITION BY doc
      |      ORDER BY cont_bp DESC, partner) AS rk FROM sc)
      |SELECT doc AS doc_id, nfp, partner, cont_bp FROM best
      |WHERE rk = 1 ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Winnow.containment(Tables.loadParallel(spark, dir, "documents"),
        "doc_id", "text", k = 5, w = 4, maxDf = 20)
      .orderBy($"doc_id")
  }

  /** Incremental CDC-chunk dedup ([[CdcChunk]], q277 parameters):
    * history = documents with `doc_id <= max_doc div 2` (the standing
    * corpus), delta = the rest (today's crawl). Each delta document
    * reports how much of it already exists in history at chunk
    * granularity: `n_hist_dup` chunks whose content hash appears in
    * the history chunk set, `dup_bp = 10⁴·n_hist_dup div n_chunks`.
    * The history index is DISTINCT chunk hashes — (hash) longs only,
    * built once; the delta probes it with a semi-join-shaped
    * left join; chunk construction stays in-row on both sides.
    */
  val q286_cdc_incremental: Q = Q(
    "q286_cdc_incremental",
    s"""WITH cut AS (SELECT MAX(doc_id) // 2 AS c FROM documents),
      |${OracleSql.CdcChunkCtes},
      |hist AS (SELECT DISTINCT chunk FROM ch
      |  WHERE doc_id <= (SELECT c FROM cut)),
      |delta AS (SELECT doc_id, chunk FROM ch
      |  WHERE doc_id > (SELECT c FROM cut)),
      |agg AS (SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |    CAST(SUM(CASE WHEN h.chunk IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_hist_dup
      |  FROM delta d LEFT JOIN hist h ON d.chunk = h.chunk
      |  GROUP BY 1)
      |SELECT doc_id, n_chunks, n_hist_dup,
      |  CAST((10000 * n_hist_dup) // n_chunks AS BIGINT) AS dup_bp
      |FROM agg ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    val cut = docs.agg(max($"doc_id")).head().getLong(0) / 2
    CdcChunk.incrementalDupStats(docs, "doc_id", "text", cut,
        k = 3, m = 8)
      .orderBy($"doc_id")
  }

  val all: Seq[Q] = Seq(q285_winnow_containment, q286_cdc_incremental)
}
