package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.functions.TextFunctions
import graft.operators.{Decontam, Dedup, ExactSubstr, Multimodal}

/** Round-12 tranche: the two capability closers the round-11 verdict
  * named —
  *
  *  - q308: REAL video decode. The engine synthesizes genuine
  *    AVI/RIFF containers (DIB frames — lossless, so the decode is
  *    DuckDB-replayable), walks them back out with
  *    [[Multimodal.aviFrames]] and decodes every frame through the
  *    JDK ImageIO path into the 6×11 luma grid — the container walk,
  *    frame decode, block downsample, and energy fold all run for
  *    real inside the oracle-checked query (MJPEG fidelity, which SQL
  *    can't replay, is spec-proven in VideoCodecSpec's grid law).
  *
  *  - q309: the INCREMENTAL curation ladder — q307 is the one-shot
  *    story; the 100 TB reality is a delta arriving against a
  *    standing corpus. The ENGINE runs the incremental operators
  *    (fingerprint anti-join, [[ExactSubstr.incrementalDupSpans]],
  *    [[Dedup.incrementalNearDup]], per-doc decontam); the ORACLE
  *    runs the BATCH ladder over standing ∪ delta and restricts to
  *    delta ids — so the oracle hash-match IS the equivalence law
  *    `incremental(state(standing), delta) ≡ batch(standing ∪ delta)
  *    |delta`, checked cross-engine at every stage
  *    (CurationProps re-proves it in-JVM on random corpora).
  *
  * Reference anchor: the curriculum's cumulation pattern
  * (`pipeline_query.sql:40-42` yesterday⟗today) — the whole course is
  * built on yesterday's state + today's delta; q309 applies it to the
  * dedup ladder.
  */
object Extended32 {

  /** Real container video decode, oracle-checked end-to-end: each
    * "video" doc (doc_id % 3 = 2, the attachMedia convention) gets
    * (doc_id % 7 + 2) frames of 22×12 pixels whose 2×2 blocks carry
    * the deterministic gray value
    * `(cl·37 + f·47 + r·11 + c·7 + cl·r·c) mod 256` (q303's grid
    * flavor plus a frame term). The engine BUILDS the BMP frames,
    * MUXES them into an AVI ([[Multimodal.aviBytes]]), then walks and
    * DECODES the container ([[Multimodal.videoFrameDecoder]]) — BMP
    * is lossless and the grid blocks are uniform, so the decoded grid
    * equals the synthesized block values EXACTLY and DuckDB replays
    * frame counts and per-frame energies Σ cell² bit-for-bit. Any bug
    * in the RIFF writer, the walker, the BMP round-trip, or the block
    * downsample lands on different grid values and breaks the hash.
    * Scale shape: one codec per partition (`mapPartitions`), ids-only
    * shuffle to the bucket aggregate, bytes never leave the task that
    * made them.
    */
  val q308_video_frames: Q = Q(
    "q308_video_frames",
    """WITH v AS (SELECT doc_id, doc_id % 512 AS cl,
      |    doc_id % 7 + 2 AS nf
      |  FROM documents WHERE doc_id % 3 = 2),
      |f AS (SELECT doc_id, cl, unnest(range(0, nf)) AS fr FROM v),
      |e AS (SELECT doc_id, fr,
      |    list_reduce(list_transform(range(0, 66), p ->
      |      ((cl*37 + fr*47 + (p//11)*11 + (p%11)*7
      |         + cl*(p//11)*(p%11)) % 256)
      |      * ((cl*37 + fr*47 + (p//11)*11 + (p%11)*7
      |         + cl*(p//11)*(p%11)) % 256)),
      |      (a, b) -> a + b) AS energy
      |  FROM f)
      |SELECT doc_id % 5 AS bucket,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_videos,
      |  CAST(COUNT(*) AS BIGINT) AS n_frames,
      |  CAST(SUM(energy) AS BIGINT) AS sum_energy,
      |  CAST(MAX(energy) AS BIGINT) AS max_energy
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val rows = 6; val cols = 11
    val vids = Tables.loadParallel(spark, dir, "documents")
      .filter(pmod($"doc_id", lit(3)) === 2)
      .select($"doc_id").as[Long]
    val grids = vids.mapPartitions { ids =>
      // decoder constructed once per partition (codec reuse across
      // the partition's rows)
      val decode = Multimodal.videoFrameDecoder(rows, cols)
      ids.map { id =>
        val cl = id % 512
        val n = (id % 7 + 2).toInt
        val frames = (0 until n).map { f =>
          Multimodal.imageBytes(2 * cols, 2 * rows, "bmp") { (x, y) =>
            val v = ((cl * 37 + f * 47 + (y / 2) * 11 + (x / 2) * 7
              + cl * (y / 2) * (x / 2)) % 256).toInt
            (v << 16) | (v << 8) | v
          }
        }
        (id, decode(Multimodal.aviBytes(frames, 2 * cols, 2 * rows,
          handler = "DIB ")))
      }
    }.toDF("doc_id", "grids")
    grids
      .select($"doc_id",
        posexplode($"grids").as(Seq("frame_idx", "grid")))
      .select($"doc_id",
        aggregate($"grid", lit(0L), (a, x) => a + x * x).as("energy"))
      .groupBy(pmod($"doc_id", lit(5)).as("bucket"))
      .agg(
        countDistinct($"doc_id").as("n_videos"),
        count(lit(1)).as("n_frames"),
        sum($"energy").as("sum_energy"),
        max($"energy").as("max_energy"))
      .orderBy($"bucket")
  }

  /** The incremental curation ladder (delta-vs-standing): ids <= cut
    * (cut = ⌊max_id·4/5⌋ — append-only id contract, ONE long of
    * driver state, the k-means bounded-collect convention) are the
    * standing corpus, ids > cut are today's delta. The engine builds
    * yesterday's state from the standing docs (stage-1 min-per-
    * fingerprint survivors S1; stage-2 coverage survivors S2) and
    * runs the delta through the INCREMENTAL operators only:
    *
    *   1_exact:       delta fingerprints anti-joined against
    *                  standing's, min-id within the batch
    *   2_exactsubstr: [[ExactSubstr.incrementalDupSpans]] — delta
    *                  spans vs S1 ∪ earlier-delta, standing never
    *                  re-pairs with itself
    *   3_minhash:     [[Dedup.incrementalNearDup]] vs the S2 band
    *                  index. The index holds every doc that ENTERED
    *                  yesterday's near-dup stage, not just its
    *                  survivors — Jaccard is not transitive, so
    *                  indexing survivors only would lose marks
    *                  (batch drops b for pair (a,b) even when a was
    *                  itself dropped by some a')
    *   4_decontam:    per-doc 13-gram audit of the delta train split
    *                  vs the FULL corpus's held-out test split
    *
    * The ORACLE runs q307's BATCH CTE ladder over standing ∪ delta
    * and restricts every stage census to delta ids — a hash match is
    * the law `incremental ≡ batch|delta`, stage by stage. (Packing
    * and SemDeDup are one-shot/global stages and stay in q307; this
    * ladder is the stages with true incremental forms.)
    */
  val q309_curation_incremental: Q = Q(
    "q309_curation_incremental",
    s"""WITH cut AS (SELECT MAX(doc_id) * 4 // 5 AS c FROM documents),
      |${OracleSql.CurationStagesSql},
      |${OracleSql.decontamCtes("s3")},
      |s4 AS (SELECT doc_id FROM t5
      |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty5)),
      |st AS (
      |  SELECT '0_delta_raw' AS stage, COUNT(*) AS n,
      |    COALESCE(SUM(doc_id), 0) AS ck FROM documents
      |    WHERE doc_id > (SELECT c FROM cut)
      |  UNION ALL SELECT '1_exact', COUNT(*), COALESCE(SUM(doc_id), 0)
      |    FROM s1 WHERE doc_id > (SELECT c FROM cut)
      |  UNION ALL SELECT '2_exactsubstr', COUNT(*), COALESCE(SUM(doc_id), 0)
      |    FROM s2 WHERE doc_id > (SELECT c FROM cut)
      |  UNION ALL SELECT '3_minhash', COUNT(*), COALESCE(SUM(doc_id), 0)
      |    FROM s3 WHERE doc_id > (SELECT c FROM cut)
      |  UNION ALL SELECT '4_decontam', COUNT(*), COALESCE(SUM(doc_id), 0)
      |    FROM s4 WHERE doc_id > (SELECT c FROM cut))
      |SELECT stage, CAST(n AS BIGINT) AS n_delta_survivors,
      |  CAST(ck AS BIGINT) AS delta_id_checksum
      |FROM st ORDER BY stage""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    // the split point: one long of driver state (bounded by
    // construction — the k-means convention); standing ids arrived
    // "yesterday", delta ids arrive today
    val cut = docs.agg(max($"doc_id")).head().getLong(0) * 4 / 5
    val standing = docs.filter($"doc_id" <= cut)
    val delta = docs.filter($"doc_id" > cut)

    // ---- yesterday's state + the delta ladder's head, overlapped ----
    // (s1 keeps (doc_id, _fp) — stage 1 below probes the fp SET,
    // stage 2 reads the survivor ids)
    val s1 = standing
      .select($"doc_id", TextFunctions.fingerprint($"text").as("_fp"))
      .groupBy($"_fp").agg(min($"doc_id").as("doc_id"))
      .transform(Barrier(_))
    val s1Docs = docs.join(s1.select($"doc_id"), "doc_id")
    // ONE standing anchor index for BOTH consumers (r13, guide §2.4
    // "remove shuffles outright"/§1.2 "don't compute things twice"):
    // the batch coverage gate (s2) and the incremental probe (i2)
    // used to each rebuild occOf(s1Docs) internally — one full
    // tokenize+md5 pass over ~80% of the corpus, twice per run
    val occS = ExactSubstr.occIndex(s1Docs, "doc_id", "text", k = 8)
    // guide §2.6 (overlap independent jobs): the standing-state chain
    // (s2 coverage gate → band index) and the delta's first two
    // incremental stages don't depend on each other — building them
    // from two driver threads lets each chain's stage tails backfill
    // the other's idle cores instead of serializing ~10 eager
    // checkpoint jobs
    val ((s2, histIdx), (i1, i2)) = graft.core.Par.join2(
      {
        val covS = ExactSubstr.dupSpansOfOcc(occS, k = 8,
            minTokens = 16)
          .groupBy($"doc".as("doc_id")).agg(sum($"len").as("_dup"))
        val s2 = s1Docs
          .select($"doc_id",
            size(TextFunctions.lowerTokens($"text")).as("_n"))
          .join(covS, Seq("doc_id"), "left")
          .filter(coalesce($"_dup", lit(0L)) * 2 < $"_n")
          .select($"doc_id").transform(Barrier(_))
        // the standing index = every doc that ENTERED yesterday's
        // minhash stage (S2) — see the scaladoc note on non-transitive
        // Jaccard. Checkpointed (r13): the incremental probe reads it
        // TWICE (band side + shingle side), and un-checkpointed each
        // read re-ran the full standing tokenize+minhash — at corpus
        // scale this relation is exactly the on-disk index bandIndex's
        // scaladoc prescribes persisting.
        val histIdx = Dedup.bandIndex(docs.join(s2, "doc_id"),
            "text", "doc_id", k = 16, bands = 4)
          .transform(Barrier(_))
        (s2, histIdx)
      },
      {
        val i1 = delta
          .select($"doc_id", TextFunctions.fingerprint($"text").as("_fp"))
          .groupBy($"_fp").agg(min($"doc_id").as("doc_id"))
          .join(s1.select($"_fp"), Seq("_fp"), "left_anti")
          .select($"doc_id").transform(Barrier(_))
        val d1 = docs.join(i1, "doc_id")
        val cov = ExactSubstr.incrementalDupSpansOfOcc(occS,
            ExactSubstr.occIndex(d1, "doc_id", "text", k = 8),
            k = 8, minTokens = 16)
          .groupBy($"doc".as("doc_id")).agg(sum($"len").as("_dup"))
        val i2 = d1
          .select($"doc_id",
            size(TextFunctions.lowerTokens($"text")).as("_n"))
          .join(cov, Seq("doc_id"), "left")
          .filter(coalesce($"_dup", lit(0L)) * 2 < $"_n")
          .select($"doc_id").transform(Barrier(_))
        (i1, i2)
      })
    val i3 = Dedup.incrementalNearDup(histIdx, docs.join(i2, "doc_id"),
        "text", "doc_id", jaccardThreshold = 0.8, k = 16, bands = 4)
      .filter(!$"is_dup")
      .select($"id".as("doc_id")).transform(Barrier(_))
    val train = docs.join(i3, "doc_id")
      .filter(TextFunctions.datasetSplit($"doc_id") === "train")
    val benchmark =
      docs.filter(TextFunctions.datasetSplit($"doc_id") === "test")
    val dirty = Decontam.ngramAudit(train, benchmark,
        "doc_id", "text", n = 13)
      .filter($"longest_run" >= 13)
      .select($"doc_id")
    val i4 = train.select($"doc_id")
      .join(dirty, Seq("doc_id"), "left_anti")

    def census(stage: String, ids: org.apache.spark.sql.DataFrame) =
      ids.agg(count(lit(1)).as("n_delta_survivors"),
          coalesce(sum($"doc_id"), lit(0L)).as("delta_id_checksum"))
        .select(lit(stage).as("stage"), $"n_delta_survivors",
          $"delta_id_checksum")
    Seq(
      census("0_delta_raw", delta.select($"doc_id")),
      census("1_exact", i1), census("2_exactsubstr", i2),
      census("3_minhash", i3), census("4_decontam", i4))
      .reduce(_ unionByName _)
      .orderBy($"stage")
  }

  val all: Seq[Q] = Seq(q308_video_frames, q309_curation_incremental)
}
