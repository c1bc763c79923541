package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Barrier
import graft.functions.{Let, TextFunctions}

/** Deduplication operators for training-data pipelines: chunk-level
  * fingerprints, MinHash+LSH banding, SimHash, and n-gram Jaccard
  * verification (exact dedup is q43's fingerprint count, inline).
  *
  * Scale design: signatures (fingerprint, minhash, bands, simhash) are
  * ALL per-row Catalyst expression trees — zero shuffles to compute
  * over 100 TB. The only exchanges are the final group-bys on
  * hash/bucket keys, which reduce to (key, count/min) pairs with
  * map-side partial aggregation. Candidate verification touches only
  * LSH-bucket collisions, never the full O(n²) pair space.
  */
object Dedup {

  /** Chunk ("line")-level dedup classification — the RefinedWeb/Gopher
    * "remove lines duplicated across the corpus" stage at sub-document
    * granularity (this corpus has no newlines, so the unit is a
    * non-overlapping `chunkTokens`-token chunk; full chunks only).
    * Emits one row per chunk occurrence — all input columns except the
    * text, plus `chunk_idx`, `chunk_fp`, and `kept`: true iff this is
    * the corpus-wide FIRST occurrence of the chunk content, ordered by
    * (id, position). That order is total, so retention is
    * deterministic and stable under reprocessing — and idempotent: a
    * corpus rebuilt from kept chunks re-classifies everything kept
    * (DedupSpec property).
    *
    * Scale shape: one tokenize per document (Let-bound; PLANS.md),
    * fingerprints computed INSIDE the generating lambda so chunk text
    * never leaves the row — the only wide operation is the window
    * shuffle keyed by the 32-hex fingerprint. A boilerplate chunk with
    * millions of occurrences is one skewed sort partition (AQE skew
    * split); only its rank-1 row keeps `kept`.
    */
  def chunkDedup(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 10): DataFrame = {
    val occ = chunkOccurrences(df, textCol, chunkTokens)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_fp")).orderBy(col(idCol), col("chunk_idx"))
    occ.withColumn("kept", row_number().over(w) === 1)
  }

  /** The occurrence generator [[chunkDedup]] classifies: one row per
    * full `chunkTokens`-token chunk — every input column except the
    * text, plus `chunk_idx` and the chunk content's md5 `chunk_fp`
    * (hashed INSIDE the lambda; chunk text never becomes a row).
    * Streaming-safe (no window): the streaming twin dedups the same
    * fingerprints with `dropDuplicatesWithinWatermark`
    * ([[graft.streaming.StreamingJobs.chunkDedupStream]]).
    */
  def chunkOccurrences(df: DataFrame, textCol: String,
      chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive")
    df.select(col("*"),
      posexplode(Let(TextFunctions.lowerTokens(col(textCol))) { t =>
        // the when-guard dodges sequence(0,-1), which DESCENDS
        when(size(t) >= chunkTokens,
          transform(
            sequence(lit(0),
              floor(size(t) / lit(chunkTokens)).cast("int") - 1),
            g => md5(array_join(
              slice(t, g * chunkTokens + 1, lit(chunkTokens)), " "))))
          .otherwise(array().cast("array<string>"))
      }).as(Seq("chunk_idx", "chunk_fp")))
      .drop(textCol)
  }

  /** The k XOR seeds of the one-hash MinHash family (60-bit, so every
    * xored value stays positive). Deterministic; the oracle SQL embeds
    * the same constants.
    */
  val MinhashSeeds: Seq[Long] = {
    val rng = new scala.util.Random(2024)
    Seq.fill(16)(rng.nextLong() & ((1L << 60) - 1))
  }

  /** MinHash signature over a shingle-set column, as ARRAY<STRING>.
    *
    * One-hash construction: each shingle is md5-hashed ONCE to a
    * 60-bit base value; the k "permutations" are XORs with fixed
    * seeds. That is k·|shingles| cheap long ops instead of
    * k·|shingles| md5 calls — the difference between ~1000 and ~70
    * digest computations per document. Everything is per-row
    * expression work; no shuffle.
    */
  def minhashSignature(shingleSet: Column, k: Int = 16): Column = {
    require(k <= MinhashSeeds.length, s"at most ${MinhashSeeds.length}")
    graft.plans.MinHashSig(shingleSet, MinhashSeeds.take(k))
  }

  /** The composable HOF formulation of the same signature — reference
    * semantics the kernel is property-tested against.
    */
  def minhashSignatureFold(shingleSet: Column, k: Int = 16): Column = {
    require(k <= MinhashSeeds.length, s"at most ${MinhashSeeds.length}")
    graft.functions.Let(
      transform(shingleSet, s =>
        conv(substring(md5(s), 1, 15), 16, 10).cast("long"))) { hashes =>
      transform(typedlit(MinhashSeeds.take(k)), sd =>
        array_min(transform(hashes, h => h.bitwiseXOR(sd)))
          .cast("string"))
    }
  }

  /** LSH band keys: the signature sliced into `bands` groups of
    * `rowsPerBand`, each hashed to one bucket key.
    */
  /** Rows per band for a k-row signature — the layout must COVER the
    * signature exactly: bands > k degenerates every band to the same
    * empty-slice hash (all-pairs candidates), a non-dividing band
    * count silently ignores trailing rows and weakens the guarantee.
    */
  private def bandRows(k: Int, bands: Int): Int = {
    require(bands > 0 && k % bands == 0,
      s"bands must divide the signature size: k=$k, bands=$bands")
    k / bands
  }

  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int)
      : Column = {
    // rowsPerBand = 0 (bands > k upstream) would hash an EMPTY slice
    // into every band of every document — identical keys corpus-wide,
    // i.e. the full O(n²) candidate space LSH exists to avoid; a
    // non-covering layout silently ignores trailing signature rows
    require(bands > 0 && rowsPerBand > 0,
      s"bands and rowsPerBand must be positive, got $bands×$rowsPerBand")
    graft.functions.Let(signature) { sig =>
      transform(sequence(lit(0), lit(bands - 1)),
        b => md5(array_join(
          slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), ",")))
    }
  }

  /** Stage shingles → signature → band keys as separate projections.
    * Inlining them would re-evaluate the tokenize+shingle subtree once
    * per minhash lambda (k×) and again per band (CollapseProject keeps
    * non-cheap multi-referenced projections separate) — staging turns
    * an O(k·|bands|) blow-up into one evaluation each.
    */
  private def withBandKeys(df: DataFrame, textCol: String, k: Int,
      bands: Int): DataFrame =
    // no size-filter here: a Filter would be predicate-pushed below the
    // staged projections, re-inlining (and per-element re-evaluating)
    // the shingle expression. Sub-n-gram docs get a NULL signature from
    // MinHashSig instead, and explode/posexplode drops them.
    // Let-bound tokenizer: CollapseProject would inline a staged _toks
    // column back into the shingle transform, whose interpreted lambda
    // then re-runs the regex split per element (measured 4×)
    df.withColumn("_sh",
        Let(TextFunctions.lowerTokens(col(textCol)))(t =>
          TextFunctions.shinglesOfTokens(t)))
      .withColumn("_sig", minhashSignature(col("_sh"), k))
      .withColumn("_bands", lshBandKeys(col("_sig"), bands, bandRows(k, bands)))

  /** Per-band LSH bucket summary: buckets and collision counts — the
    * candidate-generation telemetry of a near-dup pipeline.
    */
  def lshBandSummary(df: DataFrame, textCol: String,
      k: Int = 16, bands: Int = 4): DataFrame = {
    // posexplode_OUTER + attribute filter: a plain posexplode makes the
    // optimizer infer `size(_bands) > 0` and push that filter below the
    // staged projections — re-evaluating the whole signature chain a
    // second time (with tokens re-inlined per element). The outer
    // variant infers nothing; the null-drop happens on the cheap
    // exploded attribute.
    withBandKeys(df, textCol, k, bands)
      .select(posexplode_outer(col("_bands"))
        .as(Seq("band_id", "band_hash")))
      .filter(col("band_hash").isNotNull)
      .groupBy(col("band_id"))
      .agg(
        countDistinct(col("band_hash")).as("n_buckets"),
        (count(lit(1)) - countDistinct(col("band_hash")))
          .as("n_collisions"))
  }

  /** LSH candidate pairs: ids colliding in at least one band. */
  def lshCandidatePairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4): DataFrame = {
    val exploded = withBandKeys(df, textCol, k, bands)
      .select(col(idCol).as("id"),
        explode_outer(col("_bands")).as("band_hash"))
      .filter(col("band_hash").isNotNull)
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b, col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** The persisted-index form of the LSH pipeline: one row per
    * (doc, band) with the doc's sorted shingles alongside — what a
    * production corpus keeps ON DISK so that daily ingest never
    * recomputes history (bucket it by band_hash for a co-located
    * candidate join).
    */
  def bandIndex(df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4): DataFrame =
    // sorted shingles feed BOTH the signature (order-insensitive) and
    // the later merge-walk verify — one tokenize+shingle pass total
    df.withColumn("_sh", TextFunctions.sortedShingles(col(textCol)))
      .withColumn("_sig", minhashSignature(col("_sh"), k))
      .withColumn("_bands", lshBandKeys(col("_sig"), bands, bandRows(k, bands)))
      .select(col(idCol).as("id"), col("_sh").as("sh"),
        explode_outer(col("_bands")).as("band_hash"))
      .filter(col("band_hash").isNotNull)

  /** Incremental near-dup detection: verdicts for a DELTA batch
    * against a historical [[bandIndex]] WITHOUT touching history's
    * text — the daily-ingest shape (history is 100 TB; the delta is a
    * day). A delta doc is a duplicate if it collides-and-verifies
    * against ANY history doc or an EARLIER delta doc (lowest-id-keeps,
    * the [[nearDupDedup]] rule applied incrementally).
    *
    * Cost: band the delta (per-row expressions), one equi-join on
    * band_hash against the index (shuffle ∝ bucket occupancy), exact
    * [[jaccardSorted]] verify on the collided pairs only.
    *
    * @return one row per delta doc: (id, dup_of nullable, is_dup)
    */
  def incrementalNearDup(historyIndex: DataFrame, delta: DataFrame,
      textCol: String, idCol: String, jaccardThreshold: Double = 0.8,
      k: Int = 16, bands: Int = 4): DataFrame = {
    val verified =
      incrementalNearDupPairs(historyIndex, delta, textCol, idCol,
        jaccardThreshold, k, bands)
      .groupBy(col("u").as("_did"))
      .agg(min(col("v")).as("dup_of"))
    delta.select(col(idCol).as("id"))
      .join(verified, col("id") === col("_did"), "left")
      .select(col("id"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** The verified near-dup PAIRS behind [[incrementalNearDup]] —
    * (u = delta doc, v = history doc or earlier delta doc) for every
    * band-colliding pair whose exact Jaccard clears the threshold.
    * This is the edge feed for incremental GROUP maintenance
    * ([[Graph.incrementalComponents]] closes them against an existing
    * labeling): the union of these pair sets over arriving batches is
    * exactly the batch-mode pair set, because each pair surfaces in
    * the epoch its later member arrives. Same cost shape as the
    * verdict form — ids shuffle, arrays attach post-dedup.
    */
  def incrementalNearDupPairs(historyIndex: DataFrame, delta: DataFrame,
      textCol: String, idCol: String, jaccardThreshold: Double = 0.8,
      k: Int = 16, bands: Int = 4): DataFrame = {
    val d = bandIndex(delta, textCol, idCol, k, bands)
      .transform(Barrier(_)) // joined against history AND itself
    // candidate generation moves IDS ONLY: the band join and its
    // multi-band dedup run over (did, oid) pairs — shuffling and
    // distinct-comparing the full shingle arrays here would move
    // candidate-multiplicity × array-size bytes for nothing (the
    // nearDupDedup discipline)
    val dBands = d.select(col("id").as("_did"), col("band_hash"))
    val oBands = historyIndex
      .select(col("id").as("_oid"), col("band_hash"),
        lit(false).as("_isDelta"))
      .unionByName(d.select(col("id").as("_oid"), col("band_hash"),
        lit(true).as("_isDelta")))
    val cand = dBands.join(oBands, Seq("band_hash"))
      .filter(!col("_isDelta") || col("_oid") < col("_did"))
      .select(col("_did"), col("_oid"))
      .distinct()
    // arrays attach AFTER the dedup, and only for ids that are
    // actually candidates: first() collapses the bands× copies
    // map-side, the semi join prunes the history side to candidates
    val dSh = d.groupBy(col("id"))
      .agg(first(col("sh")).as("sh"))
      .select(col("id").as("_did"), col("sh").as("_dsh"))
    val oSh = historyIndex
      .join(cand.select(col("_oid")).distinct(),
        historyIndex("id") === col("_oid"), "left_semi")
      .groupBy(col("id")).agg(first(col("sh")).as("sh"))
      .select(col("id").as("_oid"), col("sh").as("_osh"))
      .unionByName(
        dSh.select(col("_did").as("_oid"), col("_dsh").as("_osh")))
    cand
      .join(dSh, "_did")
      .join(oSh, "_oid")
      .filter(jaccardSorted(col("_dsh"), col("_osh"))
        >= jaccardThreshold)
      .select(col("_did").as("u"), col("_oid").as("v"))
  }

  /** Word n-gram Jaccard similarity between two shingle-set columns.
    * |A∪B| = |A|+|B|−|A∩B|, so one intersect pass suffices (the inputs
    * are already distinct sets).
    */
  def jaccard(shinglesA: Column, shinglesB: Column): Column = {
    val inter = size(array_intersect(shinglesA, shinglesB))
    val union = size(shinglesA) + size(shinglesB) - inter
    when(union === 0, 0.0)
      .otherwise(inter.cast("double") / union.cast("double"))
  }

  /** Jaccard over PRE-SORTED distinct shingle arrays, scored by the
    * codegen'd merge-walk [[graft.plans.SortedIntersectCount]] — the
    * hot-loop form for verify stages that score millions of candidate
    * pairs (sort each document's shingles once, not per pair).
    */
  def jaccardSorted(sortedA: Column, sortedB: Column): Column = {
    val inter = graft.plans.SortedIntersectCount(sortedA, sortedB)
    val union = size(sortedA) + size(sortedB) - inter
    when(union === 0, 0.0)
      .otherwise(inter.cast("double") / union.cast("double"))
  }

  /** EXACT threshold Jaccard join (set-similarity join) by PREFIX
    * FILTERING — the PPJoin-family alternative to MinHash-LSH
    * ([[lshCandidatePairs]]): no false negatives by THEOREM rather
    * than by probability, at the cost of a frequency-ordered prefix
    * index instead of signature bands.
    *
    * Why it works: sort every document's shingles by one global total
    * order (document frequency ascending, then shingle — any total
    * order is correct; rare-first makes prefixes selective). If
    * J(A,B) ≥ t then |A∩B| ≥ t·|A| (union ≥ |A|), so fewer than
    * ceil(t·|A|) common shingles cannot all hide in A's suffix of
    * length ceil(t·|A|)−1 — the order-smallest common shingle lies in
    * BOTH prefixes of length n − ceil(t·n) + 1. Joining on prefix
    * shingles therefore yields a candidate superset; an exact
    * [[jaccardSorted]]-style verify (codegen'd merge walk, basis
    * points — no float compare) filters it.
    *
    * Scale shape: the only wide operations are the shingle-frequency
    * aggregate, the prefix equi-join (shuffle key = 64-bit shingle
    * hash, bounded by prefix occupancy — the rare-first order keeps
    * hot shingles OUT of prefixes), and the two verify joins on doc
    * id. Nothing is quadratic in the corpus, and nothing wide carries
    * a string: the candidate machinery runs on the hash-PROJECTED
    * shingle sets (J can only grow under projection, so the prefix
    * theorem's superset guarantee survives; the verify is on the
    * true sets).
    *
    * @param thresholdBp Jaccard threshold in basis points (7000 = 0.7)
    * @return (id_a, id_b, j_bp) — id_a < id_b, exact basis points
    */
  def thresholdJoin(df: DataFrame, textCol: String, idCol: String,
      thresholdBp: Int = 7000): DataFrame = {
    val (s, cand) = thresholdJoinStages(df, textCol, idCol, thresholdBp)
    // The verify work (two joins + the merge-walk intersect per
    // candidate) is CPU-heavy per row but only kilobytes per row, so
    // AQE's byte-count coalescing collapses the candidate exchange to
    // ONE partition and serializes the whole verify (profiled: a
    // single 1.2 s one-task stage owning ~60% of q157). Explicit
    // round-robin repartition to the session's parallelism — the
    // optimizer can't know rows are expensive, we do (guide §2.5/§8);
    // both verify joins broadcast the shingle sides, so any
    // partitioning of the candidate stream is join-compatible.
    cand
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .join(s.select(col("_id").as("id_a"), col("_sh").as("_sh_a")),
        "id_a")
      .join(s.select(col("_id").as("id_b"), col("_sh").as("_sh_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        graft.plans.SortedIntersectCount(col("_sh_a"), col("_sh_b"))
          .as("_i"),
        (size(col("_sh_a")) + size(col("_sh_b"))).as("_s"))
      .select(col("id_a"), col("id_b"),
        expr("(_i * 10000) DIV (_s - _i)").as("j_bp"))
      .filter(col("j_bp") >= thresholdBp)
  }

  /** The shingle staging + candidate stage of [[thresholdJoin]],
    * exposed so specs can guard candidate inflation (the count here is
    * the join's real cost driver; the final pair count is tiny).
    * @return (staged shingle sets `(_id, _sh)`, candidates
    *         `(id_a, id_b)`)
    */
  private[operators] def thresholdJoinStages(df: DataFrame,
      textCol: String, idCol: String, thresholdBp: Int)
      : (DataFrame, DataFrame) = {
    require(thresholdBp > 0 && thresholdBp <= 10000,
      s"thresholdBp must be 1..10000, got $thresholdBp")
    val s = df
      .select(col(idCol).as("_id"),
        TextFunctions.sortedShingles(col(textCol)).as("_sh"))
      .filter(size(col("_sh")) > 0)
      .transform(Barrier(_)) // read by the frequency agg AND both verify joins
    // Candidate generation runs entirely in HASH space (round-12
    // optimization): project each doc's shingle SET through xxhash64
    // (array_distinct: colliding strings merge so it stays a set).
    // Hash projection can only GROW Jaccard — intersections gain
    // cross-set collisions, unions lose them — so J_h(A,B) ≥ J(A,B)
    // and the PPJoin prefix theorem applied to the hash-projected
    // corpus still yields a candidate SUPERSET of every pair with
    // true J ≥ t; the verify stage scores the original string arrays
    // exactly, so the output is unchanged by THEOREM (not by
    // collision odds — ThresholdJoinProps re-proves it against brute
    // force). What it buys: the frequency window, the rank sort, the
    // prefix index and the candidate equi-join all move 8-byte longs
    // instead of shingle strings.
    val ex = s.select(col("_id"),
      explode(array_distinct(transform(col("_sh"),
        t => xxhash64(t)))).as("_h"))
    // hashes are distinct per doc, so the per-hash row count IS the
    // document frequency — computed as a whole-partition window over
    // the hash key, so the exploded table shuffles ONCE (the
    // aggregate+rejoin formulation shuffles it into the frequency agg
    // and then again into the join). Trade-off: WindowExec buffers
    // each hash group before emitting, so a boilerplate shingle
    // present in most documents is one buffered (possibly spilled)
    // group where the old partial-agg form reduced map-side; the
    // saved corpus-wide shuffle wins until that skew dominates — on
    // such corpora strip ubiquitous shingles first (q128's census is
    // the signal).
    val wdf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_h"))
    val ranked = ex
      .withColumn("_df", count(lit(1)).over(wdf))
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("_df"), col("_h"))))
        .as("_r"))
      .select(col("_id"),
        transform(col("_r"), x => x.getField("_h")).as("_rh"))
    val pref = ranked.select(col("_id"), size(col("_rh")).as("_n"),
        posexplode(expr(s"slice(_rh, 1, size(_rh) " +
          s"- ((size(_rh) * $thresholdBp + 9999) DIV 10000) + 1)"))
          .as(Seq("_p", "_h")))
      .transform(Barrier(_)) // self-joined: avoid re-running the ranking twice
    // Two candidate-stage prunes, both free integer arithmetic INSIDE
    // the join before any array-carrying row is built:
    //  - length band: J ≥ t forces t·|B| ≤ |A| ≤ |B|/t (the
    //    intersection is at most the smaller set);
    //  - PPJoin positional filter: a shared token at 0-based prefix
    //    positions (pa, pb) bounds the overlap by
    //    min(pa,pb) + 1 + min(|A|−pa−1, |B|−pb−1) — at most min(pa,pb)
    //    common tokens can precede it in the global order and at most
    //    min of the remaining suffix lengths can follow — and J ≥ t
    //    demands overlap ≥ t/(1+t)·(|A|+|B|). The bound holds for
    //    EVERY shared token (not just the first), so dropping a
    //    failing join row never loses a qualifying pair: a qualifying
    //    pair's actual overlap satisfies every one of its rows'
    //    bounds.
    val posBound = least(col("a._p"), col("b._p")) + lit(1) +
      least(col("a._n") - col("a._p") - 1, col("b._n") - col("b._p") - 1)
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a._h") === col("b._h") && col("a._id") < col("b._id") &&
          col("a._n") * 10000 >= col("b._n") * thresholdBp &&
          col("b._n") * 10000 >= col("a._n") * thresholdBp &&
          posBound * (10000 + thresholdBp) >=
            (col("a._n") + col("b._n")) * thresholdBp)
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    (s, cand)
  }

  /** Priority keep-best over a verified near-dup pair relation — the
    * corpus-curation stance that keeps the BEST copy (longest /
    * highest-quality, the RefinedWeb rule), not the lowest-id one.
    *
    * For every pair (id_a, id_b) the losing side is the one with the
    * lower priority; at equal priority the higher id loses (a total
    * order, so the verdict is deterministic). Returns the DISTINCT
    * loser ids. Pairwise, not transitive: a pair's winner may itself
    * lose a different pair — same single-pass stance as
    * [[nearDupDedup]] (chains collapse to their best member only via
    * the iterative [[Graph.connectedComponents]] route).
    *
    * Scale shape: the pair relation is LSH-verified output (orders of
    * magnitude smaller than the corpus) and the priority side is
    * projected to (id, priority) before the joins — ids and one
    * numeric column shuffle, never text or signatures.
    *
    * @param pairs      verified near-dup pairs, columns `id_a`,`id_b`
    * @param priorities one row per id: `idCol`, `prioCol`. Priorities
    *                   must be NON-NULL: a NULL comparison falls
    *                   through both `when` branches to the id
    *                   tie-break, silently ignoring the non-NULL side
    * @return distinct ids to remove, as column `idCol`
    */
  def removeWorse(pairs: DataFrame, priorities: DataFrame,
      idCol: String, prioCol: String): DataFrame = {
    val pa = priorities
      .select(col(idCol).as("id_a"), col(prioCol).as("_pa"))
    val pb = priorities
      .select(col(idCol).as("id_b"), col(prioCol).as("_pb"))
    pairs.select(col("id_a"), col("id_b"))
      .join(pa, "id_a")
      .join(pb, "id_b")
      .select(
        when(col("_pa") > col("_pb"), col("id_b"))
          .when(col("_pb") > col("_pa"), col("id_a"))
          .otherwise(greatest(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
  }

  /** 60-bit SimHash over the token multiset: per-token md5-derived
    * 60-bit hash, per-bit ±1 majority vote — computed by the
    * single-pass [[graft.plans.SimHashSig]] kernel (no shuffle, no
    * interpreted per-bit lambdas).
    */
  def simhash(text: Column): Column =
    graft.plans.SimHashSig(TextFunctions.lowerTokens(text))

  /** The composable fold form (interpreted HOFs) — kept as the
    * reference semantics SimHashSig is property-tested against.
    */
  def simhashFold(text: Column): Column = {
    val toks = TextFunctions.lowerTokens(text)
    // hash each token ONCE (its own transform pass) — were the md5
    // inlined into the vote lambda, interpreted evaluation would
    // recompute it for each of the 60 bit positions
    val hashes = transform(toks,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0), 60),
      (acc, hv) =>
        zip_with(acc, sequence(lit(0), lit(59)), (a, j) =>
          a + when(call_function("shiftright", hv, j)
            .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(59)), (s, j) =>
        when(s > 0, call_function("shiftleft", lit(1L), j))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two SimHash values — the near-dup
    * predicate (`dist <= threshold`).
    */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** SimHash near-dup pairs by the pigeonhole band trick: split the
    * 60-bit signature into `bands` segments — two signatures within
    * Hamming distance `maxDist < bands` MUST agree exactly on at
    * least one segment, so an equi-join on (band_id, band_value)
    * generates a complete candidate set and the exact popcount check
    * verifies it. One signature pass, one candidate shuffle on a
    * 15-bit key, no all-pairs stage. At larger corpora the 15-bit
    * band space saturates (birthday collisions inflate candidates) —
    * scale by widening the signature (e.g. 64-bit, 4×16) or
    * compounding the band key with a cheap blocking attribute.
    *
    * BEHAVIOR CHANGE (round 9): `bands` must now divide the 60-bit
    * signature width ([[hashNearDupPairs]]' `require`). Non-divisor
    * counts (7, 8) formerly worked via silent 60/bands truncation —
    * still complete (uncovered top bits only ever ADD candidates) but
    * quietly weaker than asked; callers relying on that should pass a
    * divisor (2, 3, 4, 5, 6, 10, 12, 15, 20, 30, 60).
    */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3, bands: Int = 4): DataFrame =
    hashNearDupPairs(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig")),
      maxDist, bands)

  /** The pigeonhole band join of [[simhashNearDupPairs]] generalized
    * to ANY precomputed fixed-width Hamming signature — text simhash,
    * image dHash ([[Multimodal.dHash60]]), audio fingerprints: two
    * signatures within Hamming distance `maxDist < bands` must agree
    * exactly on at least one of the `bands` equal segments, so an
    * equi-join on (band_id, band_value) is a complete candidate set
    * and the popcount check verifies it exactly. Same scale shape as
    * the simhash form: one candidate shuffle on the band key, never
    * all-pairs.
    *
    * @param sigs    (id, sig) — sig an integral column using the low
    *                `sigBits` bits
    * @param sigBits signature width; must divide into `bands` equal
    *                segments
    */
  def hashNearDupPairs(sigs: DataFrame, maxDist: Int = 3,
      bands: Int = 4, sigBits: Int = 60): DataFrame = {
    require(maxDist < bands, "pigeonhole needs maxDist < bands")
    require(sigBits % bands == 0 && sigBits > 0 && sigBits < 64,
      s"sigBits ($sigBits) must be a positive multiple of bands " +
        s"($bands) below 64")
    val bits = sigBits / bands
    val mask = (1L << bits) - 1
    val banded = sigs
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band_id"))
      .withColumn("band_val",
        call_function("shiftright", col("sig"), col("band_id") * bits)
          .bitwiseAND(lit(mask)))
    val a = banded.select(col("band_id"), col("band_val"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band_id"), col("band_val"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sig_a"), col("sig_b")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Dedup GROUPS of the verified SimHash near-dup graph WITHOUT ever
    * materializing doc–doc pairs — the 100 TB fix for
    * [[simhashNearDupPairs]] → CC group assembly (q88/q272's former
    * shape): a band bucket holding B docs emits B² candidate pairs,
    * and duplicate-heavy corpora (the ones you dedup!) make B huge
    * precisely where it hurts. Three observations collapse that:
    *
    *  1. docs sharing a SIGNATURE are near-dups by definition
    *     (Hamming 0, bands trivially agree) — so collapse to DISTINCT
    *     signatures first; the band self-join + Hamming verify then
    *     runs on the (usually far smaller) signature space, and a
    *     million identical boilerplate docs cost ONE node instead of
    *     10¹² pairs;
    *  2. components of the verified doc graph = components of the
    *     verified SIGNATURE graph expanded by membership: every doc
    *     edge is a sig edge (or a same-sig identity) and every sig
    *     edge is realized by at least one doc pair;
    *  3. each doc has EXACTLY ONE key (its signature's component), so
    *     the doc-level expansion — bipartite CC over (doc, key)
    *     membership in general ([[Graph.bipartiteComponents]]) —
    *     degenerates to a single keyed min-aggregate + one equi join:
    *     a star forest needs no iteration.
    *
    * Components are IDENTICAL to
    * `Graph.connectedComponents(simhashNearDupPairs(…))` —
    * property-pinned by SimhashComponentsProps — but the output also
    * carries every SINGLETON doc (comp = own id), which is what group
    * consumers (sizes, weights, keep-one) want anyway.
    *
    * Scale shape: text is read once into (id, sig) longs; the only
    * corpus-sized moves are the sig distinct, the one membership join,
    * and the key-min aggregate (map-side combinable). The pair space —
    * band join, Hamming verify, iterative CC — lives entirely on
    * distinct signatures.
    *
    * @return (id, comp) for EVERY input doc, comp = min doc id of its
    *         verified near-dup group
    */
  def simhashComponents(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3, bands: Int = 4): DataFrame = {
    require(maxDist < bands, "pigeonhole needs maxDist < bands")
    // (id, sig) is the ONLY corpus-sized relation below; checkpointed
    // because the distinct and the final membership join both read it
    val sigs = df
      .select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
      .transform(Barrier(_))
    val sigPairs =
      simhashSigPairs(sigs.select(col("sig")).distinct(), maxDist, bands)
    // CC over the signature graph (pairs-sized, not corpus-sized);
    // sigs outside any edge keep themselves as their key
    val sigComp = Graph.connectedComponents(sigPairs)
      .select(col("id").as("sig"), col("comp").as("_sc"))
    val membership = sigs
      .join(sigComp, Seq("sig"), "left_outer")
      .select(col("id"), coalesce(col("_sc"), col("sig")).as("key"))
      .transform(Barrier(_)) // key-min agg + the comp join both read it
    // one key per doc ⇒ the bipartite CC is a star forest: comp is
    // simply min(doc id) over the key, joined back — no iteration.
    // shuffle_hash pinned: comp is corpus-cardinality (one row per
    // group), so the planner's broadcast flip at small SF would be
    // the wrong plan at scale AND a cross-SF ledger divergence
    val comp = membership.groupBy(col("key"))
      .agg(min(col("id")).as("comp"))
    membership.join(comp.hint("shuffle_hash"), Seq("key"))
      .select(col("id"), col("comp"))
  }

  /** Verified near-dup edges between DISTINCT signatures — the whole
    * pair space [[simhashComponents]] ever materializes. Package-
    * private so PlanShapeSpec can pin the claim mechanically: the
    * band self-join's inputs are the distinct-signature relation (doc
    * ids never enter pair space — the final query plans hide this
    * stage behind checkpoint boundaries, so the pin targets it
    * directly).
    */
  private[graft] def simhashSigPairs(distinctSigs: DataFrame,
      maxDist: Int, bands: Int): DataFrame = {
    val bits = 60 / bands
    val mask = (1L << bits) - 1
    val banded = distinctSigs
      .select(col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band_id"))
      .withColumn("band_val",
        call_function("shiftright", col("sig"), col("band_id") * bits)
          .bitwiseAND(lit(mask)))
    val sa = banded.select(col("band_id"), col("band_val"),
      col("sig").as("sig_a"))
    val sb = banded.select(col("band_id"), col("band_val"),
      col("sig").as("sig_b"))
    sa.join(sb, Seq("band_id", "band_val"))
      .filter(col("sig_a") < col("sig_b"))
      .filter(hammingDistance(col("sig_a"), col("sig_b")) <= maxDist)
      .select(col("sig_a").as("u"), col("sig_b").as("v"))
      .distinct()
  }

  /** End-to-end near-dup dedup: LSH candidates → Jaccard verify →
    * keep-list.
    *
    * Verified pairs (id_a < id_b) are collapsed by dropping every id
    * that appears as the LARGER side of a pair — a single-pass
    * approximation of connected components (exact for pair clusters;
    * a chain a~b~c where a≁c directly keeps only `a`, which is the
    * usual aggressive-dedup stance; full transitive closure would be
    * an iterative min-id propagation if a curator wants it).
    * All stages are bounded: candidates come only from band-bucket
    * collisions, never the O(n²) pair space.
    *
    * @return the rows of `df` that survive dedup
    */
  def nearDupDedup(df: DataFrame, textCol: String, idCol: String,
      jaccardThreshold: Double = 0.8, k: Int = 16, bands: Int = 4)
      : DataFrame = {
    // ONE tokenize+shingle pass feeds both the signature (MinHash
    // minima are order-independent, so the sorted array serves the
    // verify stage too) and the band keys; materialized because
    // candidates and both verify sides re-read it. At scale this is
    // the staged signature table a curator would persist anyway.
    val staged = df
      .withColumn("_sh", TextFunctions.sortedShingles(col(textCol)))
      .withColumn("_sig", minhashSignature(col("_sh"), k))
      .withColumn("_bands", lshBandKeys(col("_sig"), bands, bandRows(k, bands)))
      .select(col(idCol).as("_id"), col("_sh"), col("_bands"))
      .transform(Barrier(_))
    val exploded = staged
      .select(col("_id"), explode_outer(col("_bands")).as("band_hash"))
      .filter(col("band_hash").isNotNull)
    val candidates = exploded.as("a")
      .join(exploded.as("b"), col("a.band_hash") === col("b.band_hash") &&
        col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    val sh = staged.select(col("_id"), col("_sh"))
    val verified = candidates
      .join(sh.withColumnRenamed("_sh", "_sh_a"),
        col("id_a") === col("_id"))
      .drop("_id")
      .join(sh.withColumnRenamed("_sh", "_sh_b"),
        col("id_b") === col("_id"))
      .filter(jaccardSorted(col("_sh_a"), col("_sh_b")) >= jaccardThreshold)
      .select(col("id_b").as("_drop_id"))
      .distinct()
    df.join(verified, col(idCol) === col("_drop_id"), "left_anti")
  }

  /** EXACT longest duplicate token span per document pair — the
    * precise companion to q193's sampled duplicated-span fraction:
    * for every pair of documents sharing at least one k-token span,
    * the exact length (in tokens) of their longest common contiguous
    * token run. Pairs whose longest common run is shorter than k
    * never become candidates and are absent from the output.
    *
    * The per-pair suffix-array formulation is re-expressed as a
    * matching-diagonal scan, which IS the Spark-shaped equivalent of
    * ordering suffixes: a common token span of length L ≥ k contains
    * exactly L−k+1 k-shingles that match at CONSECUTIVE positions in
    * both documents — i.e. a run of matches along one diagonal
    * (pos_a − pos_b constant) of the match matrix. So:
    *
    *  1. explode each doc into (pos, hash(k-shingle)) — hashes are
    *     60-bit md5 prefixes, so only 8-byte longs shuffle, never
    *     span text ([[graft.plans.Md5PrefixLongs]], the q189/q193
    *     discipline);
    *  2. self-join on the shingle hash (this is the shingle
    *     bucketing: candidate pairs are generated per shared hash,
    *     NEVER all doc pairs);
    *  3. longest run of consecutive pos_a per (pair, diagonal) via
    *     the classic rownumber-difference grouping;
    *  4. span = max run + k − 1.
    *
    * Equivalence to token-level longest-common-substring DP is
    * property-tested (`LongestDupSpanProps`), modulo 60-bit hash
    * collisions.
    *
    * Scale shape: the wide moves key on the shingle hash and on
    * (doc_a, doc_b, diag) — both well-spread; no per-pair quadratic
    * work exists anywhere (cost is Σ_hash df², like every
    * shingle-bucketed dedup here). A boilerplate k-gram shared by
    * thousands of docs inflates that sum quadratically — at corpus
    * scale strip boilerplate first (q128) or cap document frequency
    * with `maxDf`, which bounds the join fan-out at the cost of
    * missing spans composed ENTIRELY of ultra-common shingles.
    *
    * @param k     span unit in tokens (candidates need a shared
    *              k-gram; reported spans are ≥ k)
    * @param maxDf drop shingle hashes appearing in more than this
    *              many documents before pairing (None = exact)
    * @return (doc_a, doc_b, span_tokens), doc_a < doc_b
    */
  def longestDupSpan(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, maxDf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g0 = df
      .select(col(idCol).as("doc"),
        posexplode_outer(
          graft.plans.Md5PrefixLongs(
            TextFunctions.positionalShingles(col(textCol), k)))
          .as(Seq("pos", "hv")))
      .filter(col("hv").isNotNull)
      .transform(Barrier(_)) // self-joined: don't re-shingle both sides
    val g = maxDf match {
      case Some(cap) =>
        // df-cap: one hash-keyed agg, broadcast-joined back as a
        // semi-filter; drops only hashes shared by > cap docs
        val rare = g0.groupBy(col("hv"))
          .agg(countDistinct(col("doc")).as("_df"))
          .filter(col("_df") <= cap)
          .select(col("hv"))
        g0.join(rare, Seq("hv"), "left_semi")
      case None => g0
    }
    val matches = g.select(col("doc").as("doc_a"), col("pos").as("pos_a"),
        col("hv"))
      .join(g.select(col("doc").as("doc_b"), col("pos").as("pos_b"),
        col("hv")), Seq("hv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"),
        (col("pos_a") - col("pos_b")).as("diag"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    matches
      .withColumn("grp", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg((max(col("run")) + lit(k - 1)).cast("long").as("span_tokens"))
  }

  /** Exact duplicated-span REMOVAL — the transform counterpart of
    * [[longestDupSpan]]'s measurement (ExactSubstr-style dedup, Lee
    * et al. 2021 "Deduplicating Training Data Makes Language Models
    * Better"): every token covered by a k-gram occurrence that is not
    * the CORPUS-CANONICAL FIRST occurrence of that k-gram (canonical
    * = lexicographic min (doc, pos) over its 60-bit md5 span hash) is
    * dropped, and each document is re-joined from its survivors. The
    * first copy of boilerplate survives verbatim; every later copy
    * loses exactly the repeated tokens.
    *
    * Scale shape: spans hash to longs inside the scan (q193's rule);
    * the wide moves are the hash-keyed canonical aggregate
    * (`min(struct(doc, pos))` — map-side combinable), the hash-keyed
    * mark join, and the per-doc mark collect — TEXT shuffles in none
    * of them (marks are (doc, int) pairs; the reconstruct re-reads
    * text from the narrow side of a doc-keyed join). The per-doc
    * reconstruct is in-row: one Let-staged tokenizer pass + a
    * position filter against the doc's own mark list (bounded by its
    * token count). Within-doc repeats are removed too (their (doc,
    * pos) loses the lexicographic tie to the earlier position).
    *
    * @param k span unit in tokens: every duplicated k-gram's tokens
    *          are removed; docs shorter than k tokens pass through.
    * @return one row per input doc: `idCol, clean_text, n_tokens,
    *         n_removed` (n_tokens = original count).
    */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val occ = df
      .select(col(idCol).as("doc"),
        posexplode_outer(
          graft.plans.Md5PrefixLongs(
            TextFunctions.positionalShingles(col(textCol), k)))
          .as(Seq("pos", "hv")))
      .filter(col("hv").isNotNull)
      .transform(Barrier(_)) // canonical agg + mark join both read it
    val canon = occ.groupBy(col("hv"))
      .agg(min(struct(col("doc"), col("pos"))).as("can"))
    val marks = occ.join(canon, Seq("hv"))
      .filter(!(col("doc") === col("can.doc") &&
        col("pos") === col("can.pos")))
      .groupBy(col("doc"))
      .agg(collect_list(col("pos")).as("_starts"))
    df.select(col(idCol).as("doc"), col(textCol).as("_text"))
      .join(marks, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        Let(TextFunctions.lowerTokens(col("_text")),
            coalesce(col("_starts"),
              array().cast("array<int>"))) { (toks, starts) =>
          Let(transform(
              filter(sequence(lit(0), size(toks) - 1),
                i => !exists(starts, s => i >= s && i < s + k)),
              i => element_at(toks, i + 1))) { kept =>
            struct(
              array_join(kept, " ").as("clean_text"),
              size(toks).cast("long").as("n_tokens"),
              (size(toks) - size(kept)).cast("long").as("n_removed"))
          }
        }.as("_o"))
      .select(col(idCol), col("_o.clean_text"), col("_o.n_tokens"),
        col("_o.n_removed"))
  }
}
