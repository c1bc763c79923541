package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Multimodal, Similarity}

/** LLM-training-data pipeline surface over `documents` and
  * `embeddings`: text statistics, quality signals, language-ID,
  * fingerprint/exact dedup, n-gram Jaccard, MinHash+LSH, SimHash,
  * cosine top-k, IVF assignment, multimodal metadata.
  */
object TrainingData {

  /** Token statistics per language (whitespace + BPE-ish counts). */
  val q40_token_stats: Q = Q(
    "q40_token_stats",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpe_tokens
      |FROM documents
      |GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.loadParallel(spark, dir, "documents")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum(tokenCount($"text").cast("long")).as("total_ws_tokens"),
        sum(bpeTokenCount($"text").cast("long")).as("total_bpe_tokens"))
      .orderBy($"lang")
  }

  /** Quality signals per source: ratios derived from exact integer
    * sums (punct chars / chars, stopwords / tokens, chars / token) so
    * the doubles reproduce bit-for-bit.
    */
  val q41_quality_scores: Q = Q(
    "q41_quality_scores",
    """SELECT source,
      |  CAST(SUM(len(text)) AS BIGINT) AS sum_chars,
      |  CAST(SUM(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_punct,
      |  CAST(SUM(len(string_split_regex(lower(text), '\s+'))) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
      |    w -> list_contains(['the','a','of','and','to','in','is','for','on','with'], w)))) AS BIGINT) AS sum_stopwords,
      |  CAST(SUM(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))) AS DOUBLE)
      |    / SUM(len(text)) AS punct_ratio,
      |  CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
      |    w -> list_contains(['the','a','of','and','to','in','is','for','on','with'], w)))) AS DOUBLE)
      |    / SUM(len(string_split_regex(lower(text), '\s+'))) AS stopword_ratio
      |FROM documents
      |GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // one tokenization feeds both token and stopword counts (the plan
    // scan showed the generic helpers tokenizing twice)
    Tables.loadParallel(spark, dir, "documents")
      .withColumn("_ltoks", lowerTokens($"text"))
      .groupBy($"source")
      .agg(
        sum(length($"text").cast("long")).as("sum_chars"),
        sum(punctCount($"text").cast("long")).as("sum_punct"),
        sum(size($"_ltoks").cast("long")).as("sum_tokens"),
        sum(size(filter($"_ltoks", w => w.isin(EnStopwords: _*)))
          .cast("long")).as("sum_stopwords"))
      .select($"source", $"sum_chars", $"sum_punct", $"sum_tokens",
        $"sum_stopwords",
        ($"sum_punct".cast("double") / $"sum_chars").as("punct_ratio"),
        ($"sum_stopwords".cast("double") / $"sum_tokens")
          .as("stopword_ratio"))
      .orderBy($"source")
  }

  /** Language-ID confusion matrix: heuristic guess vs label. */
  val q42_langid_confusion: Q = Q(
    "q42_langid_confusion",
    s"""SELECT lang AS labeled, ${OracleSql.guessedSql} AS guessed,
      |  COUNT(*) AS n_docs
      |FROM documents
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.loadParallel(spark, dir, "documents")
      .groupBy($"lang".as("labeled"), languageId($"text").as("guessed"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"labeled", $"guessed")
  }

  /** Fingerprint (md5 of normalized text) dedup stats per source. */
  val q43_fingerprint_dedup: Q = Q(
    "q43_fingerprint_dedup",
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_distinct,
      |  COUNT(*) - COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_exact_dups
      |FROM documents
      |GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.loadParallel(spark, dir, "documents")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(fingerprint($"text")).as("n_distinct"),
        (count(lit(1)) - countDistinct(fingerprint($"text")))
          .as("n_exact_dups"))
      .orderBy($"source")
  }

  /** n-gram Jaccard near-dup scan: top-20 most similar pairs among
    * probe docs (id < 40) × all docs — the verify stage of a dedup
    * pipeline, bounded so it stays a candidate check, not O(n²).
    */
  val q44_jaccard_pairs: Q = Q(
    "q44_jaccard_pairs",
    s"""WITH s AS (SELECT doc_id, ${OracleSql.shingles(3)} AS sh FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
      |FROM s a JOIN s b ON a.doc_id < 40 AND b.doc_id > a.doc_id
      |ORDER BY jac DESC, id_a, id_b LIMIT 20""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // shingles sorted ONCE per doc → per-pair scoring is a codegen'd
    // merge walk (SortedIntersectCount), no per-pair hash sets.
    // a barrier: both join branches read the staged shingles —
    // without it each side re-tokenizes the full corpus (reference
    // X3, the shared-aggregate pattern)
    val s = Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", sortedShingles($"text").as("sh"))
      .transform(Barrier(_))
    val a = s.filter($"doc_id" < 40)
      .select($"doc_id".as("id_a"), $"sh".as("sh_a"))
    val b = s.select($"doc_id".as("id_b"), $"sh".as("sh_b"))
    a.join(b, $"id_b" > $"id_a")
      .select($"id_a", $"id_b",
        Dedup.jaccardSorted($"sh_a", $"sh_b").as("jac"))
      .orderBy($"jac".desc, $"id_a", $"id_b")
      .limit(20)
  }

  /** MinHash + LSH banding telemetry: per-band bucket and collision
    * counts (k=16 one-hash signatures — md5 base + XOR seed family,
    * see Dedup.minhashSignature — 4 bands × 4 rows).
    */
  val q45_minhash_lsh: Q = Q(
    "q45_minhash_lsh",
    s"""WITH s AS (SELECT doc_id, ${OracleSql.shingles(3)} AS sh FROM documents),
      |${OracleSql.minhashSig("s", "")},
      |band AS (SELECT doc_id, CAST(i // 4 AS INT) AS band_id,
      |    md5(string_agg(mh, ',' ORDER BY i)) AS band_hash
      |  FROM sig GROUP BY doc_id, i // 4)
      |SELECT band_id, COUNT(DISTINCT band_hash) AS n_buckets,
      |  COUNT(*) - COUNT(DISTINCT band_hash) AS n_collisions
      |FROM band GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Dedup.lshBandSummary(
        Tables.loadParallel(spark, dir, "documents"), "text", k = 16, bands = 4)
      .select($"band_id".cast("int").as("band_id"), $"n_buckets",
        $"n_collisions")
      .orderBy($"band_id")
  }

  /** SimHash signatures: 60-bit content hash + popcount per doc. */
  val q46_simhash: Q = Q(
    "q46_simhash",
    s"""WITH ${OracleSql.SimhashBits}
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash,
      |  CAST(bit_count(CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT)) AS INT) AS n_bits
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id", Dedup.simhash($"text").as("simhash"))
      .select($"doc_id", $"simhash",
        bit_count($"simhash").cast("int").as("n_bits"))
      .orderBy($"doc_id")
  }

  /** Brute-force cosine top-k ANN baseline: 5 probe vectors × all
    * candidates, top-5 each. The fold is sequential per row, so the
    * doubles match a single-node engine exactly.
    */
  val q47_cosine_topk: Q = Q(
    "q47_cosine_topk",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
      |scored AS (SELECT qid, vec_id AS cid,
      |    ${OracleSql.cosine("qe", "embedding")}
      |    AS cos
      |  FROM q, embeddings WHERE vec_id != qid)
      |${OracleSql.topCosine(5)}""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val candidates = emb.select($"vec_id".as("cid"), $"embedding".as("cvec"))
    Similarity.bruteForceTopK(broadcast(queries), candidates, 5)
      .select($"qid", $"rank".cast("int").as("rank"), $"cid", $"cos")
      .orderBy($"qid", $"rank")
  }

  /** IVF cell assignment (the ANN scale path): vectors 0..7 seed the
    * centroids; every vector maps to its nearest cell.
    */
  val q48_ivf_assign: Q = Q(
    "q48_ivf_assign",
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
      |scored AS (SELECT vec_id, centroid_id,
      |    ${OracleSql.cosine("embedding", "ce")}
      |    AS cos
      |  FROM embeddings, c)
      |SELECT centroid_id, COUNT(*) AS n_vectors FROM (
      |  SELECT vec_id, centroid_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
      |  FROM scored) t
      |WHERE rn = 1
      |GROUP BY centroid_id ORDER BY centroid_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid"))
    Similarity.ivfAssign(
        emb.select($"vec_id", $"embedding"), centroids)
      .groupBy($"centroid_id")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy($"centroid_id")
  }

  /** Multimodal metadata rollup over the synthesized media table:
    * binary payload sizes + typed metadata, decoded via the stub.
    */
  val q49_multimodal: Q = Q(
    "q49_multimodal",
    """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
      |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  CAST(SUM((doc_id * 37) % 1216 + 64) AS BIGINT) AS sum_width,
      |  CAST(SUM((doc_id * 7) % 240 + 1) AS BIGINT) AS sum_duration
      |FROM documents
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val media = Multimodal.attachMedia(
      Tables.loadParallel(spark, dir, "documents"), "doc_id", "text")
    media
      .withColumn("features", Multimodal.decodePixelsStub($"bytes"))
      .groupBy($"kind")
      .agg(
        count(lit(1)).as("n_items"),
        sum($"features.n_bytes".cast("long")).as("total_bytes"),
        sum($"meta.width".cast("long")).as("sum_width"),
        sum($"meta.duration_s".cast("long")).as("sum_duration"))
      .orderBy($"kind")
  }

  /** Token-window chunking (the LLM-ingest unit): 64-token windows
    * with 16-token overlap, counted per source.
    */
  val q56_chunking: Q = Q(
    "q56_chunking",
    """WITH t AS (SELECT source, string_split_regex(lower(text), '\s+') AS toks
      |  FROM documents),
      |c AS (SELECT source,
      |    CAST(ceil(greatest(len(toks) - 16, 1) / 48.0) AS INT) AS n_chunks,
      |    len(toks) AS n_toks
      |  FROM t)
      |SELECT source,
      |  CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
      |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
      |  CAST(MAX(n_chunks) AS INT) AS max_chunks
      |FROM c GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // one Let-bound tokenization feeds both the chunk and token counts
    // (a struct carries the pair out of the binding)
    Tables.loadParallel(spark, dir, "documents")
      .withColumn("_s", graft.functions.Let(lowerTokens($"text"))(t =>
        struct(size(t).as("n_toks"),
          size(chunksOfTokens(t, 64, 16)).as("n_chunks"))))
      .groupBy($"source")
      .agg(
        sum($"_s.n_chunks".cast("long")).as("total_chunks"),
        sum($"_s.n_toks".cast("long")).as("total_tokens"),
        max($"_s.n_chunks").cast("int").as("max_chunks"))
      .orderBy($"source")
  }

  /** Redaction pass: email + long-digit spans → placeholders; measures
    * how much text the cleaner touches.
    */
  val q57_redaction: Q = Q(
    "q57_redaction",
    """SELECT lang,
      |  CAST(SUM(len(text)) AS BIGINT) AS chars_before,
      |  CAST(SUM(len(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\d{6,}', '<NUM>', 'g'))) AS BIGINT) AS chars_after,
      |  CAST(SUM(CASE WHEN regexp_matches(text, '\d{6,}')
      |    OR regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.loadParallel(spark, dir, "documents")
      .groupBy($"lang")
      .agg(
        sum(length($"text").cast("long")).as("chars_before"),
        sum(length(redact($"text")).cast("long")).as("chars_after"),
        sum(when(
          regexp_count($"text", lit("\\d{6,}")) > 0 ||
            regexp_count($"text",
              lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")) > 0,
          1L).otherwise(0L)).as("n_redacted_docs"))
      .orderBy($"lang")
  }

  /** Deterministic train/val/test split by id hash (90/5/5) — stable
    * under reprocessing, never random().
    */
  val q58_dataset_split: Q = Q(
    "q58_dataset_split",
    """SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
      |            ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM (SELECT n_chars,
      |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
      |      FROM documents) t
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .groupBy(datasetSplit($"doc_id").as("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"))
      .orderBy($"split")
  }

  /** Embedding-cosine near-dup detection: each probe vector's single
    * nearest neighbor with a duplicate verdict — the verify stage of
    * an embedding-space dedup (candidates would come from the IVF/SRP
    * buckets at scale).
    */
  val q59_embedding_neardup: Q = Q(
    "q59_embedding_neardup",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
      |           WHERE vec_id < 100),
      |scored AS (SELECT qid, vec_id AS cid,
      |    ${OracleSql.cosine("qe", "embedding")}
      |    AS cos
      |  FROM q, embeddings WHERE vec_id != qid)
      |SELECT qid, cid AS nearest_id, cos AS nearest_cos,
      |  cos >= 0.9 AS is_near_dup
      |FROM (SELECT qid, cid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      |  FROM scored) t
      |WHERE rn = 1
      |ORDER BY qid""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    val queries = emb.filter($"vec_id" < 100)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val candidates = emb.select($"vec_id".as("cid"), $"embedding".as("cvec"))
    Similarity.bruteForceTopK(broadcast(queries), candidates, 1)
      .select($"qid", $"cid".as("nearest_id"), $"cos".as("nearest_cos"),
        ($"cos" >= 0.9).as("is_near_dup"))
      .orderBy($"qid")
  }

  /** Full IVF ANN search (completing the q48 index-build story):
    * vectors 0..7 seed the centroids, queries are vectors 100..104,
    * each probes its 2 nearest cells and ranks the vectors living
    * there — top-3 per query. The oracle replays the exact pipeline
    * (assignment, probes, candidate scoring) in SQL, so this checks
    * the approximate result itself, not a brute-force stand-in.
    */
  val q63_ivf_search: Q = Q(
    "q63_ivf_search",
    s"""WITH ${OracleSql.IvfAssignCtes},
      |q AS (SELECT vec_id AS qid, embedding AS qe, vn AS qn
      |  FROM v WHERE vec_id BETWEEN 100 AND 104),
      |probes AS (SELECT qid, centroid_id FROM (
      |    SELECT q.qid, cn.centroid_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
      |        ${OracleSql.dot("q.qe", "cn.ce")} / (q.qn * cn.cnm) DESC,
      |        cn.centroid_id) AS rn
      |    FROM q, cn) t WHERE rn <= 2),
      |cand AS (SELECT p.qid, a.vec_id
      |  FROM probes p JOIN assign a USING (centroid_id)
      |  WHERE a.vec_id != p.qid),
      |scored AS (SELECT cand.qid, cand.vec_id AS cid,
      |    ${OracleSql.dot("q.qe", "v.embedding")} / (q.qn * v.vn) AS cos
      |  FROM cand JOIN v ON cand.vec_id = v.vec_id
      |  JOIN q ON cand.qid = q.qid)
      |${OracleSql.topCosine(3)}""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid"))
    val queries = emb.filter($"vec_id".between(100, 104))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    Similarity.ivfSearch(
        emb.select($"vec_id", $"embedding"), centroids, queries,
        k = 3, nprobe = 2)
      .select($"qid", $"rank".cast("int").as("rank"), $"cid", $"cos")
      .orderBy($"qid", $"rank")
  }

  /** SRP-LSH bucketed ANN search (the second scale path next to IVF):
    * 8 sign bits per vector → 256 buckets, exact cosine re-rank only
    * within the probe's bucket. The hyperplanes are the first 8 corpus
    * vectors, so the oracle can replay the exact same index build
    * relationally — the approximation itself is what's hash-checked,
    * not just the re-rank.
    */
  val q70_srp_search: Q = Q(
    "q70_srp_search",
    s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id < 8),
      |b AS (SELECT vec_id,
      |    CAST(SUM(CASE WHEN ${OracleSql.dot("e.embedding", "p.pe")} > 0
      |      THEN 1::BIGINT << pid ELSE 0 END) AS BIGINT) AS bucket
      |  FROM embeddings e CROSS JOIN p GROUP BY vec_id),
      |v AS (SELECT vec_id, embedding,
      |    sqrt(${OracleSql.dot("embedding", "embedding")}) AS vn, bucket
      |  FROM embeddings JOIN b USING (vec_id)),
      |q AS (SELECT vec_id AS qid, embedding AS qe, vn AS qn, bucket
      |  FROM v WHERE vec_id BETWEEN 8 AND 12),
      |scored AS (SELECT q.qid, v.vec_id AS cid,
      |    ${OracleSql.dot("q.qe", "v.embedding")} / (q.qn * v.vn) AS cos
      |  FROM v JOIN q USING (bucket) WHERE v.vec_id != q.qid)
      |${OracleSql.topCosine(5)}""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.loadParallel(spark, dir, "embeddings")
    // index metadata: 8 plane vectors, collected once on the driver
    // (the same driver-side role q63's centroid list plays)
    val planes: Seq[Seq[Double]] = emb.filter($"vec_id" < 8)
      .orderBy($"vec_id")
      .select($"embedding")
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq)
      .toSeq
    val queries = emb.filter($"vec_id".between(8, 12))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    Similarity.srpSearch(
        emb.select($"vec_id", $"embedding"), queries, planes, k = 5)
      .select($"qid", $"rank".cast("int").as("rank"), $"cid", $"cos")
      .orderBy($"qid", $"rank")
  }

  /** Deterministic stratified sampling: per-source keep rates decided
    * by an md5 hash bucket of the id (never `rand()` — resumable,
    * reproducible across engines and retries, and exactly what a
    * training-mix builder needs: high-value sources oversampled).
    * Reported as per-source totals vs sampled counts.
    */
  val q71_stratified_sample: Q = Q(
    "q71_stratified_sample",
    """SELECT source,
      |  COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN b < r THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM (SELECT source,
      |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b,
      |        CASE WHEN source IN ('src0','src1','src2','src3','src4')
      |          THEN 50 ELSE 10 END AS r
      |      FROM documents) t
      |GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val bucket =
      graft.plans.Md5PrefixLong($"doc_id".cast("string"), 8) % 100
    val rate = when($"source".isin(
      "src0", "src1", "src2", "src3", "src4"), 50).otherwise(10)
    Tables.load(spark, dir, "documents")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(bucket < rate, 1).otherwise(0)).as("n_sampled"))
      .orderBy($"source")
  }

  /** Boilerplate detection: the 3-gram shingles shared by the most
    * documents (shingles are distinct within a doc, so each count is a
    * document frequency). At scale this is the classic boilerplate
    * scan: one explode + one count shuffle on the shingle, with the
    * same staged-token discipline as the Jaccard/MinHash family.
    */
  val q72_boilerplate_ngrams: Q = Q(
    "q72_boilerplate_ngrams",
    s"""WITH s AS (SELECT doc_id, ${OracleSql.shingles(3)} AS sh FROM documents)
      |SELECT shingle, COUNT(*) AS n_docs FROM (
      |  SELECT doc_id, unnest(sh) AS shingle FROM s) t
      |GROUP BY shingle
      |ORDER BY n_docs DESC, shingle LIMIT 10""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.loadParallel(spark, dir, "documents")
      .select(explode_outer(graft.functions.Let(lowerTokens($"text"))(
        t => shinglesOfTokens(t))).as("shingle"))
      .filter($"shingle".isNotNull)
      .groupBy($"shingle")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"n_docs".desc, $"shingle")
      .limit(10)
  }

  /** Train/test contamination scan: test-split documents whose
    * 8-token-prefix fingerprint also appears in the train split — the
    * leakage check every eval pipeline needs (the prefix fingerprint
    * catches shared openings, not just byte-identical dups, which the
    * split hash makes vanishingly rare). Per source: test-doc count
    * and how many are contaminated. At scale both sides
    * shuffle-partition on the md5 key; only (fingerprint, source)
    * moves, never the text.
    */
  val q73_contamination: Q = Q(
    "q73_contamination",
    s"""WITH f AS (SELECT source,
      |    md5(array_to_string(string_split_regex(lower(text), '\\s+')[1:8], ' ')) AS fp,
      |    ${OracleSql.SplitSql} AS split
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_test,
      |  CAST(SUM(CASE WHEN fp IN (SELECT fp FROM f WHERE split = 'train')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
      |FROM f WHERE split = 'test'
      |GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val prefixFp = md5(concat_ws(" ", slice(lowerTokens($"text"), 1, 8)))
    // stage the narrow (source, fp, split) projection once: both the
    // train-fps branch and the test branch read it, and without the
    // checkpoint each would re-tokenize and re-md5 the full corpus
    val f = Tables.load(spark, dir, "documents")
      .select($"source", prefixFp.as("fp"),
        datasetSplit($"doc_id").as("split"))
      .transform(Barrier(_))
    val trainFps = f.filter($"split" === "train")
      .select($"fp").distinct()
      .withColumn("_hit", lit(1))
    f.filter($"split" === "test")
      .join(trainFps, Seq("fp"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_test"),
        count($"_hit").as("n_contaminated"))
      .orderBy($"source")
  }

  /** Token-budget packing (the training-mix builder): per source, rank
    * documents by quality (stopword ratio — a real-language signal)
    * and keep the best until a per-source token budget fills. One
    * window pass per source partition; the double ratio is derived
    * from exact integer counts identically in both engines, and the
    * doc_id tie-break makes the packing order total, so the greedy
    * cut is deterministic at any scale.
    */
  val q75_token_budget_pack: Q = Q(
    "q75_token_budget_pack",
    """WITH d AS (SELECT doc_id, source,
      |    len(string_split_regex(lower(text), '\s+')) AS n_toks,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
      |      w -> list_contains(['the','a','of','and','to','in','is','for','on','with'], w))) AS DOUBLE)
      |      / len(string_split_regex(lower(text), '\s+')) AS quality
      |  FROM documents),
      |w AS (SELECT *, SUM(n_toks) OVER (PARTITION BY source
      |    ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM d)
      |SELECT source, COUNT(*) AS n_docs_kept,
      |  CAST(SUM(n_toks) AS BIGINT) AS tokens_packed
      |FROM w WHERE cum <= 2000
      |GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
      .withColumn("_ltoks", lowerTokens($"text"))
      .select($"doc_id", $"source", size($"_ltoks").as("n_toks"),
        (size(filter($"_ltoks", w => w.isin(EnStopwords: _*)))
          .cast("double") / size($"_ltoks")).as("quality"))
    val w = Window.partitionBy($"source")
      .orderBy($"quality".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum($"n_toks").over(w))
      .filter($"cum" <= 2000)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs_kept"),
        sum($"n_toks").cast("long").as("tokens_packed"))
      .orderBy($"source")
  }

  /** Video frame-sampling rollup: 0.5 fps frame plans + aspect-fit
    * resize metadata per video, aggregated by id bucket. Exercises the
    * full multimodal plumbing chain (attach → sampleFrames explode →
    * resizeMeta) against a purely arithmetic oracle — including the
    * zero-frame edge (odd 1-second videos sample no frame at 0.5 fps)
    * and the floor-vs-round cast trap (oracle uses FLOOR explicitly:
    * DuckDB's double→INT cast rounds, Spark's truncates).
    */
  val q76_frame_sample: Q = Q(
    "q76_frame_sample",
    """WITH v AS (SELECT doc_id AS media_id,
      |    (doc_id * 37) % 1216 + 64 AS w,
      |    (doc_id * 53) % 656 + 64 AS h,
      |    (doc_id * 7) % 240 + 1 AS dur
      |  FROM documents WHERE doc_id % 3 = 2),
      |r AS (SELECT media_id,
      |    CAST(FLOOR(w * LEAST(256.0 / GREATEST(w, h), 1.0)) AS INT) AS rw,
      |    CAST(FLOOR(h * LEAST(256.0 / GREATEST(w, h), 1.0)) AS INT) AS rh,
      |    CAST(FLOOR(dur * 0.5) AS INT) AS n_frames
      |  FROM v)
      |SELECT media_id % 5 AS bucket, COUNT(*) AS n_videos,
      |  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
      |  CAST(SUM(rw) AS BIGINT) AS sum_rw,
      |  CAST(SUM(rh) AS BIGINT) AS sum_rh
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val media = Multimodal.attachMedia(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    val videos = media.filter($"kind" === "video")
      .select($"media_id", Multimodal.resizeMeta($"meta", 256).as("rmeta"))
    val frames = Multimodal.sampleFrames(media, 0.5)
      .groupBy($"media_id")
      .agg(count(lit(1)).as("n_frames"))
    videos.join(frames, Seq("media_id"), "left")
      .groupBy(($"media_id" % 5).as("bucket"))
      .agg(
        count(lit(1)).as("n_videos"),
        sum(coalesce($"n_frames", lit(0L))).as("total_frames"),
        sum($"rmeta.width".cast("long")).as("sum_rw"),
        sum($"rmeta.height".cast("long")).as("sum_rh"))
      .orderBy($"bucket")
  }

  /** End-to-end corpus prep (the capstone composition): quality
    * filter (stopword ratio — drops gibberish) → exact dedup (keep
    * the lowest doc_id per normalized fingerprint) → deterministic
    * split → per-split document/token totals. Exactly the chain a
    * pretraining corpus runs, each stage the operator proven
    * individually by q41/q43/q58. One scan, one dedup shuffle on the
    * fingerprint, one split aggregation.
    */
  val q77_corpus_prep: Q = Q(
    "q77_corpus_prep",
    """WITH d AS (SELECT doc_id,
      |    len(string_split_regex(lower(text), '\s+')) AS n_toks,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
      |      w -> list_contains(['the','a','of','and','to','in','is','for','on','with'], w))) AS DOUBLE)
      |      / len(string_split_regex(lower(text), '\s+')) AS sr,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |clean AS (SELECT * FROM d WHERE sr >= 0.05),
      |dedup AS (SELECT doc_id, n_toks FROM (
      |    SELECT doc_id, n_toks,
      |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |    FROM clean) t WHERE rn = 1)
      |SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
      |            ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens
      |FROM (SELECT n_toks,
      |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
      |      FROM dedup) t
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
      .withColumn("_ltoks", lowerTokens($"text"))
      .select($"doc_id", size($"_ltoks").as("n_toks"),
        (size(filter($"_ltoks", w => w.isin(EnStopwords: _*)))
          .cast("double") / size($"_ltoks")).as("sr"),
        fingerprint($"text").as("fp"))
    val clean = d.filter($"sr" >= 0.05)
    val w = Window.partitionBy($"fp").orderBy($"doc_id")
    val deduped = clean
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
    deduped
      .groupBy(datasetSplit($"doc_id").as("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks").cast("long").as("total_tokens"))
      .orderBy($"split")
  }

  /** Full near-dup dedup pipeline, oracle-checked end to end: MinHash
    * signatures → LSH band collisions → candidate pairs → exact
    * Jaccard verify (≥0.8) → drop the higher doc_id of each verified
    * pair → per-source keep counts. The oracle replays every stage in
    * SQL (same seeds, same band hashing as q45), so the whole
    * approximate pipeline — not just its summary — is hash-checked.
    * Scale: candidates are generated by a self-join on the band hash
    * (shuffle key = 32-char md5), the verify join moves only
    * (id, sorted shingles), and the final keep is a left anti join.
    */
  val q78_neardup_pipeline: Q = Q(
    "q78_neardup_pipeline",
    s"""WITH s AS (SELECT doc_id, ${OracleSql.shingles(3)} AS sh FROM documents),
      |${OracleSql.minhashPairs("s", "")},
      |dropped AS (SELECT DISTINCT id_b FROM cand
      |  JOIN s sa ON cand.id_a = sa.doc_id
      |  JOIN s sb ON cand.id_b = sb.doc_id
      |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
      |      >= 0.8)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id IN (SELECT id_b FROM dropped)
      |    THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
      |FROM documents
      |GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    val kept = Dedup.nearDupDedup(docs, "text", "doc_id",
      jaccardThreshold = 0.8, k = 16, bands = 4)
    docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(kept.groupBy($"source").agg(count(lit(1)).as("_k")),
        Seq("source"), "left")
      .select($"source", $"n_docs",
        coalesce($"_k", lit(0L)).as("n_kept"))
      .orderBy($"source")
  }

  /** SimHash near-dup pairs, oracle-checked end to end (the third
    * dedup family completed, after exact-fingerprint q43/q77 and
    * MinHash q78): banded pigeonhole candidates → exact Hamming
    * verify ≤ 3. See [[graft.operators.Dedup.simhashNearDupPairs]]
    * for the scale shape.
    */
  val q79_simhash_neardup: Q = Q(
    "q79_simhash_neardup",
    s"""WITH ${OracleSql.SimhashBanded},
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS dist
      |  FROM banded a JOIN banded b
      |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, dist FROM cand WHERE dist <= 3
      |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Dedup.simhashNearDupPairs(
        Tables.loadParallel(spark, dir, "documents"), "text", "doc_id",
        maxDist = 3, bands = 4)
      .orderBy($"id_a", $"id_b")
  }

  /** Count-Min sketch frequency estimation: d=4 md5-derived hash
    * rows × w=256 counters built as a plain (row, bucket) GROUP BY —
    * the sketch IS a partial-aggregable relation, so at 100 TB it
    * builds in one map-side-combined pass and merges by summing
    * counters (what exact per-key counts can't do when the key space
    * explodes). Probes read back min over rows; estimates
    * over-count, never under. Deterministic hashing makes the
    * approximation itself hash-checkable — the oracle builds the
    * same sketch.
    */
  val q87_countmin: Q = Q(
    "q87_countmin",
    """WITH e AS (SELECT user_id FROM events),
      |rows_ AS (SELECT unnest(generate_series(0, 3)) AS i),
      |h AS (SELECT user_id, i,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1 + 8 * i, 8))::BIGINT % 256 AS b
      |  FROM e CROSS JOIN rows_),
      |cms AS (SELECT i, b, COUNT(*) AS c FROM h GROUP BY 1, 2),
      |probes AS (SELECT user_id, COUNT(*) AS true_n FROM e
      |  WHERE user_id < 5 GROUP BY 1),
      |pb AS (SELECT p.user_id, p.true_n, r.i,
      |    ('0x' || substr(md5(CAST(p.user_id AS VARCHAR)), 1 + 8 * r.i, 8))::BIGINT % 256 AS b
      |  FROM probes p CROSS JOIN rows_ r)
      |SELECT pb.user_id, pb.true_n, MIN(cms.c) AS cms_n
      |FROM pb JOIN cms ON pb.i = cms.i AND pb.b = cms.b
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // ONE digest per row supplies all 4 sketch rows from disjoint
    // 32-bit substrings (the MinHashSig one-hash-family trick): 4×
    // fewer md5 evaluations than hashing (user, i) per row, same
    // mergeability, and the oracle replays the identical derivation
    def buckets(u: org.apache.spark.sql.Column) = {
      val d = md5(u.cast("string"))
      array((0 to 3).map(i => struct(lit(i).as("i"),
        pmod(conv(substring(d, 1 + 8 * i, 8), 16, 10).cast("long"),
          lit(256)).as("b"))): _*)
    }
    val ev = Tables.loadParallel(spark, dir, "events")
      .select($"user_id")
    // explode_outer + null filter: a plain explode of a computed array
    // lets the optimizer infer a size()>0 filter that re-evaluates the
    // md5 array per row (PLANS.md)
    val cms = ev
      .select(explode_outer(buckets($"user_id")).as("x"))
      .filter($"x".isNotNull)
      .groupBy($"x.i".as("i"), $"x.b".as("b"))
      .agg(count(lit(1)).as("c"))
    val probes = ev.filter($"user_id" < 5)
      .groupBy($"user_id").agg(count(lit(1)).as("true_n"))
    probes
      .select($"user_id", $"true_n",
        explode_outer(buckets($"user_id")).as("x"))
      .filter($"x".isNotNull)
      .select($"user_id", $"true_n", $"x.i".as("i"), $"x.b".as("b"))
      .join(cms, Seq("i", "b"))
      .groupBy($"user_id", $"true_n")
      .agg(min($"c").as("cms_n"))
      .orderBy($"user_id")
  }

  /** Near-dup GROUPS: the verified SimHash graph closed into
    * transitive components by [[graft.operators.Dedup.simhashComponents]]
    * — distinct signatures collapse BEFORE the band join, so the pair
    * space (candidates, Hamming verify, CC) lives on signatures, never
    * on docs: a million identical docs cost one node, not 10¹² pairs.
    * Labels are min doc_id — a chain a~b~c is ONE dedup group even
    * when a≁c directly. The oracle closes the doc-level pairs with a
    * recursive CTE, so the signature-space factoring is hash-checked
    * against the declarative doc-space fixpoint.
    */
  val q88_neardup_groups: Q = Q(
    "q88_neardup_groups",
    s"""WITH RECURSIVE ${OracleSql.SimhashPairs},
      |${OracleSql.components("pairs", "")}
      |SELECT comp, COUNT(*) AS n_members FROM cc
      |GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    Dedup.simhashComponents(
        Tables.loadParallel(spark, dir, "documents"), "text", "doc_id",
        maxDist = 3, bands = 4)
      .groupBy($"comp")
      .agg(count(lit(1)).as("n_members"))
      .filter($"n_members" >= 2) // singletons are not dedup groups
      .orderBy($"comp")
  }

  val all: Seq[Q] = Seq(
    q40_token_stats, q41_quality_scores, q42_langid_confusion,
    q43_fingerprint_dedup, q44_jaccard_pairs, q45_minhash_lsh,
    q46_simhash, q47_cosine_topk, q48_ivf_assign, q49_multimodal,
    q56_chunking, q57_redaction, q58_dataset_split,
    q59_embedding_neardup, q63_ivf_search, q70_srp_search,
    q71_stratified_sample, q72_boilerplate_ngrams, q73_contamination,
    q75_token_budget_pack, q76_frame_sample, q77_corpus_prep,
    q78_neardup_pipeline, q79_simhash_neardup, q87_countmin,
    q88_neardup_groups)
}