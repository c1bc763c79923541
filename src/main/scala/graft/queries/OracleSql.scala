package graft.queries

/** DuckDB oracle SQL that more than one query uses, kept in one place
  * so each fragment has one spelling. A fragment used by a single file
  * stays private to that file.
  *
  * Every fragment is already margin-stripped. Interpolate it into an
  * `s"""…""".stripMargin` oracle: the outer `stripMargin` runs after
  * interpolation, so a fragment line whose first non-blank character
  * is `|` would lose it (none here starts that way). Fragments written
  * as `s"""` spell the regex class `\\s`; plain `"""` ones spell `\s`.
  * A parameter exists only where callers pass different values:
  * a source CTE, a column, or a CTE-name suffix such as `4`.
  */
object OracleSql {

  // ---- text: language-ID, stopword score, shingles ----

  /** q42's heuristic language-ID CASE over `text`. */
  val guessedSql: String =
    """CASE
      |    WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
      |    WHEN len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['the','a','of','and','to','is'], w)))
      |      >= len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['der','die','und','das','ist','nicht'], w)))
      |     AND len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['the','a','of','and','to','is'], w)))
      |      >= len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['el','los','de','es','una','que'], w)))
      |     AND len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['the','a','of','and','to','is'], w)))
      |      >= len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['le','les','et','est','une','dans'], w)))
      |    THEN 'en'
      |    WHEN len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['der','die','und','das','ist','nicht'], w)))
      |      >= len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['el','los','de','es','una','que'], w)))
      |     AND len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['der','die','und','das','ist','nicht'], w)))
      |      >= len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['le','les','et','est','une','dans'], w)))
      |    THEN 'de'
      |    WHEN len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['el','los','de','es','una','que'], w)))
      |      >= len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['le','les','et','est','une','dans'], w)))
      |    THEN 'es'
      |    ELSE 'fr' END""".stripMargin

  private val SwSql =
    """len(list_filter(string_split_regex(lower(text), '\s+'),
      |      w -> list_contains(['the','a','of','and','to','in','is',
      |        'for','on','with'], w)))""".stripMargin

  /** Whitespace token count of `text`. */
  val NtSql = """len(string_split_regex(lower(text), '\s+'))"""

  /** q245's stopword-rate score: basis points of lexicon tokens among
    * all whitespace tokens.
    */
  val ScoreSql = s"(10000 * $SwSql) // $NtSql"

  /** The three-rater table `r(doc_id, cat)`'s first two raters: the
    * annotated language and q42's guess, each as en/other.
    */
  val LangRatersSql: String =
    s"""r AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 'en' ELSE 'other'
       |    END AS cat FROM documents
       |  UNION ALL
       |  SELECT doc_id, CASE WHEN ($guessedSql) = 'en'
       |    THEN 'en' ELSE 'other' END FROM documents""".stripMargin

  /** Distinct lowercase whitespace n-gram shingles of `text` (q44's
    * 3-gram set; 5-grams for decontamination).
    */
  def shingles(n: Int): String =
    s"""list_distinct(list_transform(
       |  range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - ${n - 1}, 1) + 1),
       |  i -> array_to_string(string_split_regex(lower(text), '\\s+')[i:i+${n - 1}], ' ')))""".stripMargin

  /** q44's 3-gram shingle set, sorted. */
  val SortedShingleSql = s"list_sort(${shingles(3)})"

  /** q58's deterministic 90/5/5 train/val/test split of `doc_id` by
    * md5 bucket.
    */
  val SplitSql: String =
    """CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
      |         THEN 'train'
      |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 95
      |         THEN 'val' ELSE 'test' END""".stripMargin

  /** Full-vocabulary token heavy hitters (> 1% of all tokens). */
  val HeavyHitterOracle: String =
    """WITH t AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
      |  FROM documents),
      |tot AS (SELECT COUNT(*) AS n FROM t)
      |SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1
      |HAVING COUNT(*) * 100 > (SELECT n FROM tot)
      |ORDER BY cnt DESC, tok""".stripMargin

  /** The corpus's top-20 bigrams by document frequency: CTEs `s`
    * (tokens), `g` (distinct doc bigrams) and `top`.
    */
  val TopBigramCtes: String =
    """s AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |g AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS gram
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM s) x),
      |top AS (SELECT gram FROM (
      |  SELECT gram, COUNT(*) AS df FROM g GROUP BY 1
      |  ORDER BY df DESC, gram LIMIT 20))""".stripMargin

  /** Content-defined chunks: CTEs `tok`, `b`, `c` (cut points where a
    * trigram hash is 0 mod 8), `e` (chunk ends) and `ch(doc_id, n,
    * chunk)`.
    */
  val CdcChunkCtes: String =
    """tok AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS t FROM documents),
      |b AS (SELECT doc_id, t, len(t) AS n FROM tok),
      |c AS (SELECT doc_id, t, n,
      |    list_filter(range(3, n + 1), j ->
      |      ('0x' || substr(md5(array_to_string(t[j-2:j], ' ')),
      |        1, 15))::BIGINT % 8 = 0) AS cuts FROM b),
      |e AS (SELECT doc_id, t, n,
      |    CASE WHEN len(cuts) > 0 AND cuts[-1] = n THEN cuts
      |         ELSE list_append(cuts, n) END AS ends FROM c),
      |ch AS (SELECT doc_id, n,
      |    unnest(list_transform(range(1, len(ends) + 1), x ->
      |      array_to_string(t[(CASE WHEN x = 1 THEN 1
      |          ELSE ends[x - 1] + 1 END):ends[x]], ' ')))
      |      AS chunk FROM e)""".stripMargin

  // ---- backoff bigram LMs (q269/q275) ----

  /** One pruned backoff LM (uni 24 / bi 512) over the documents
    * matching `where`: CTEs `${p}tok`, `${p}tr`, `${p}uni0`, `${p}uni`,
    * `${p}bi` and `${p}k`.
    */
  def lmCtes(p: String, where: String): String =
    s"""${p}tok AS (SELECT unnest(string_split_regex(lower(text),
      |    '\\s+')) AS w FROM documents $where),
      |${p}tr AS (SELECT unnest(t[:-2]) AS w1, unnest(t[2:]) AS w2
      |  FROM (SELECT string_split_regex(lower(text), '\\s+') AS t
      |        FROM documents $where) x
      |  WHERE len(t) >= 2),
      |${p}uni0 AS (SELECT w, COUNT(*) AS c FROM ${p}tok GROUP BY 1),
      |${p}uni AS (SELECT w, c FROM ${p}uni0
      |  ORDER BY c DESC, w LIMIT 24),
      |${p}bi AS (SELECT b.w1, b.w2, b.c12, u.c AS c1
      |  FROM (SELECT w1, w2, COUNT(*) AS c12 FROM ${p}tr GROUP BY 1, 2
      |        ORDER BY COUNT(*) DESC, w1, w2 LIMIT 512) b
      |  JOIN ${p}uni0 u ON u.w = b.w1),
      |${p}k AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v
      |  FROM ${p}uni)""".stripMargin

  private def bitsSql(p: String, alias: String): String =
    s"""CASE WHEN ${alias}b.c12 IS NOT NULL
      |  THEN (length(bin(${alias}b.c1)) - 1)
      |    - (length(bin(${alias}b.c12)) - 1)
      |  ELSE 1 + (length(bin((SELECT n FROM ${p}k)
      |      + (SELECT v FROM ${p}k))) - 1)
      |    - (length(bin(COALESCE(${alias}u.c, 0) + 1)) - 1)
      |  END""".stripMargin

  /** CTE `sc`: each `dtr(w1, w2)` transition's bits under the target
    * (`t`) and source (`s`) LMs of [[lmCtes]], keyed by `keys`.
    */
  def contrastScores(keys: String): String =
    s"""sc AS (SELECT $keys,
      |    ${bitsSql("t", "t")} AS bt,
      |    ${bitsSql("s", "s")} AS bs
      |  FROM dtr
      |  LEFT JOIN tbi tb ON dtr.w1 = tb.w1 AND dtr.w2 = tb.w2
      |  LEFT JOIN tuni tu ON dtr.w2 = tu.w
      |  LEFT JOIN sbi sb ON dtr.w1 = sb.w1 AND dtr.w2 = sb.w2
      |  LEFT JOIN suni su ON dtr.w2 = su.w)""".stripMargin

  // ---- near-dup families: winnowing, SimHash, MinHash, spans ----

  /** The q270 winnowing pair chain (tokens → k-gram hashes →
    * window-then-filter argmin → df-capped fingerprint index →
    * shared-count pairs), shared with the q279 community query: the
    * window min is computed over ALL keyed rows in `selw` and the
    * complete-window filter `i <= nh - 3` applies OUTSIDE it (SQL
    * evaluates WHERE before window functions — filtering inside the
    * window block truncated the tail frames, the round-7 red row).
    * Ends with CTE `pairs(a, b, shared)`.
    */
  val winnowPairCtes: String =
    """tok AS (SELECT doc_id AS doc,
      |    string_split_regex(lower(text), '\s+') AS t FROM documents),
      |g AS (SELECT doc, len(t) - 4 AS nh, t,
      |    unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS i FROM tok),
      |occ AS (SELECT doc, nh, i,
      |    ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15))
      |      ::BIGINT AS hv FROM g),
      |keyed AS (SELECT doc, nh, i,
      |    printf('%016x:%09d', hv, i) AS key FROM occ),
      |selw AS (SELECT doc, nh, i, MIN(key) OVER (PARTITION BY doc
      |      ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
      |      AS sel
      |  FROM keyed),
      |sel AS (SELECT DISTINCT doc, sel FROM selw WHERE i <= nh - 3),
      |fps AS (SELECT DISTINCT doc,
      |    ('0x' || substr(sel, 1, 16))::BIGINT AS fp FROM sel),
      |keep AS (SELECT fp FROM fps GROUP BY fp
      |  HAVING COUNT(*) BETWEEN 2 AND 20),
      |kept AS (SELECT f.doc, f.fp FROM fps f JOIN keep USING (fp)),
      |pairs AS (SELECT x.doc AS a, y.doc AS b,
      |    CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM kept x JOIN kept y ON x.fp = y.fp AND x.doc < y.doc
      |  GROUP BY 1, 2)""".stripMargin

  /** SimHash's 60 signed bit votes `bits(doc_id, j, s)` over the token
    * hashes in CTE `h(doc_id, hv)`.
    */
  val SimhashBitsCte: String =
    """bits AS (SELECT doc_id, j,
      |    SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) t
      |  GROUP BY 1, 2)""".stripMargin

  /** Per-document SimHash bit votes: CTEs `tok`, `h` and `bits`. */
  val SimhashBits: String =
    s"""tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
       |  FROM documents),
       |h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM tok),
       |$SimhashBitsCte""".stripMargin

  /** [[SimhashBits]] plus the 60-bit signature `sig(doc_id, sh)` and its
    * four 15-bit bands `banded(doc_id, sh, b, bv)`.
    */
  val SimhashBanded: String =
    s"""$SimhashBits,
       |sig AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS sh
       |  FROM bits GROUP BY doc_id),
       |banded AS (SELECT doc_id, sh, b, (sh >> (b * 15)) & 32767 AS bv
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) t)""".stripMargin

  /** [[SimhashBanded]] plus the verified near-dup pairs `pairs(u, v)`:
    * a shared band and Hamming distance ≤ 3 (q88's pairs).
    */
  val SimhashPairs: String =
    s"""$SimhashBanded,
       |pairs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |  FROM banded a JOIN banded b
       |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sh, b.sh)) <= 3)""".stripMargin

  /** Connected components of the edge CTE `edges(u, v)` by a
    * min-label recursive fixpoint (needs `WITH RECURSIVE`): CTEs
    * `sym$n`, `reach$n(id, lab)` and `cc$n(id, comp)`.
    */
  def components(edges: String, n: String): String =
    s"""sym$n AS (SELECT u AS a, v AS b FROM $edges
       |  UNION ALL SELECT v, u FROM $edges),
       |reach$n(id, lab) AS (
       |  SELECT DISTINCT a, a FROM sym$n
       |  UNION
       |  SELECT s.b, r.lab FROM reach$n r JOIN sym$n s ON r.id = s.a),
       |cc$n AS (SELECT id, MIN(lab) AS comp FROM reach$n GROUP BY id)""".stripMargin

  /** The 16 MinHash XOR seeds as `(i, seed)` VALUES rows. */
  private val MinhashSeedsSql: String = graft.operators.Dedup.MinhashSeeds
    .take(16).zipWithIndex.map { case (s, i) => s"($i, $s::BIGINT)" }
    .mkString(", ")

  /** MinHash signatures of the shingle lists `sh` in CTE `src`: CTEs
    * `h$n`, `seeds` and `sig$n(doc_id, i, mh)`.
    */
  def minhashSig(src: String, n: String): String =
    s"""h$n AS (SELECT doc_id, ('0x' || substr(md5(x), 1, 15))::BIGINT AS hv
       |  FROM (SELECT doc_id, unnest(sh) AS x FROM $src WHERE len(sh) > 0) t),
       |seeds(i, seed) AS (VALUES $MinhashSeedsSql),
       |sig$n AS (SELECT doc_id, i, CAST(MIN(xor(hv, seed)) AS VARCHAR) AS mh
       |  FROM h$n CROSS JOIN seeds GROUP BY doc_id, i)""".stripMargin

  /** [[minhashSig]] plus 4 LSH bands of 4 rows, `band$n(doc_id,
    * band_hash)`.
    */
  def minhashBands(src: String, n: String): String =
    s"""${minhashSig(src, n)},
       |band$n AS (SELECT doc_id,
       |    md5(string_agg(mh, ',' ORDER BY i)) AS band_hash
       |  FROM sig$n GROUP BY doc_id, i // 4)""".stripMargin

  /** [[minhashBands]] plus the band-collision candidates
    * `cand$n(id_a, id_b)`, `id_a < id_b`.
    */
  def minhashPairs(src: String, n: String): String =
    s"""${minhashBands(src, n)},
       |cand$n AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM band$n a JOIN band$n b
       |    ON a.band_hash = b.band_hash AND a.doc_id < b.doc_id)""".stripMargin

  /** Merges the duplicate spans `marks(doc_id, s, len)` into disjoint
    * islands: CTEs `o$n`, `isl$n` and `sp$n(doc_id, island, s, e)`.
    */
  def spanIslands(marks: String, n: String): String =
    s"""o$n AS (SELECT doc_id, s, s + len AS e,
       |    MAX(s + len) OVER (PARTITION BY doc_id ORDER BY s, s + len
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
       |  FROM $marks),
       |isl$n AS (SELECT doc_id, s, e,
       |    SUM(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s, e) AS island
       |  FROM o$n),
       |sp$n AS (SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
       |  FROM isl$n GROUP BY 1, 2)""".stripMargin

  /** Rebuilds each doc's text from the tokens of `t(doc_id, tk)` whose
    * positions are not in `mpos(doc_id, i)`: CTEs `pos`, `keep` and
    * `agg(doc_id, clean_text, n_kept)`.
    */
  val StripKeepCtes: String =
    """pos AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
      |  FROM t),
      |keep AS (SELECT p.doc_id, p.i, p.tk[p.i] AS w FROM pos p
      |  ANTI JOIN mpos USING (doc_id, i)),
      |agg AS (SELECT doc_id,
      |    array_to_string(list(w ORDER BY i), ' ') AS clean_text,
      |    CAST(COUNT(*) AS BIGINT) AS n_kept FROM keep GROUP BY 1)""".stripMargin

  // ---- the curation ladder (q307/q309) ----

  /** The q307 ladder's first three stages over `documents`: exact
    * fingerprint dedup `s1`, the exact-substring coverage gate `s2`
    * (text in `d2`), and MinHash near-dup dedup `s3`.
    */
  val CurationStagesSql: String =
    s"""fp AS (SELECT doc_id,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
       |  FROM documents),
       |s1 AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
       |t2 AS (SELECT d.doc_id,
       |    string_split_regex(lower(d.text), '\\s+') AS tk
       |  FROM documents d JOIN s1 USING (doc_id)),
       |g2 AS (SELECT doc_id, tk,
       |    unnest(range(1, greatest(len(tk) - 7, 0) + 1)) AS i FROM t2),
       |occ2 AS (SELECT doc_id, i - 1 AS pos,
       |    ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))
       |      ::BIGINT AS hv FROM g2),
       |m2 AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
       |  FROM occ2 a JOIN occ2 b ON a.hv = b.hv AND a.doc_id < b.doc_id),
       |r2 AS (SELECT da, db, pa - pb AS diag, pb,
       |    pb - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb
       |      ORDER BY pb) AS grp FROM m2),
       |runs2 AS (SELECT da, db, diag, grp, MIN(pb) AS s,
       |    COUNT(*) + 7 AS len FROM r2 GROUP BY 1, 2, 3, 4),
       |marks2 AS (SELECT DISTINCT db AS doc_id, s, len FROM runs2
       |  WHERE len >= 16),
       |${spanIslands("marks2", "2")},
       |cov2 AS (SELECT doc_id, SUM(e - s) AS dup FROM sp2 GROUP BY 1),
       |s2 AS (SELECT t.doc_id FROM t2 t LEFT JOIN cov2 c USING (doc_id)
       |  WHERE COALESCE(c.dup, 0) * 2 < len(t.tk)),
       |d2 AS (SELECT d.doc_id, d.text FROM documents d JOIN s2 USING (doc_id)),
       |sh3 AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1) + 1),
       |    i -> array_to_string(string_split_regex(lower(text), '\\s+')[i:i+2], ' ')))
       |    AS sh FROM d2),
       |${minhashPairs("sh3", "3")},
       |drop3 AS (SELECT DISTINCT id_b FROM cand3
       |  JOIN sh3 sa ON cand3.id_a = sa.doc_id
       |  JOIN sh3 sb ON cand3.id_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
       |      >= 0.8),
       |s3 AS (SELECT doc_id FROM d2
       |  WHERE doc_id NOT IN (SELECT id_b FROM drop3))""".stripMargin

  /** The ladder's decontamination audit of the train-split docs in
    * `survivors`: CTEs `t5`, `tb` (the held-out test split), `g5`,
    * `occ5`, `gb`, `bench5`, `hit5`, `r5` and `dirty5(doc_id)` (a
    * colliding 13-gram run).
    */
  def decontamCtes(survivors: String): String =
    s"""t5 AS (SELECT d.doc_id,
       |    string_split_regex(lower(d.text), '\\s+') AS tk
       |  FROM documents d JOIN $survivors USING (doc_id)
       |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90),
       |tb AS (SELECT string_split_regex(lower(text), '\\s+') AS tk
       |  FROM documents
       |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 >= 95),
       |g5 AS (SELECT doc_id, tk,
       |    unnest(range(1, greatest(len(tk) - 12, 0) + 1)) AS i FROM t5),
       |occ5 AS (SELECT doc_id, i - 1 AS pos,
       |    ('0x' || substr(md5(array_to_string(tk[i:i+12], ' ')), 1, 15))
       |      ::BIGINT AS hv FROM g5),
       |gb AS (SELECT tk,
       |    unnest(range(1, greatest(len(tk) - 12, 0) + 1)) AS i FROM tb),
       |bench5 AS (SELECT DISTINCT
       |    ('0x' || substr(md5(array_to_string(tk[i:i+12], ' ')), 1, 15))
       |      ::BIGINT AS hv FROM gb),
       |hit5 AS (SELECT o.doc_id, o.pos FROM occ5 o JOIN bench5 b USING (hv)),
       |r5 AS (SELECT doc_id,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
       |      AS grp FROM hit5),
       |dirty5 AS (SELECT DISTINCT doc_id FROM
       |  (SELECT doc_id, grp, COUNT(*) AS cnt FROM r5 GROUP BY 1, 2)
       |  WHERE cnt >= 13)""".stripMargin

  // ---- embeddings: dot, cosine, IVF, SemDeDup, int8 codes ----

  /** 64-dim float dot product with a sequential left fold (VectorDot's
    * order, so the doubles agree bitwise), fold on the lambda's line.
    */
  def dot(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, 65),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  /** [[dot]] with the fold on its own line. */
  def dotWrapped(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, 65),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
       |      (x, y) -> x + y)""".stripMargin

  /** 64-dim cosine of `a` and `b` (q47's form). */
  def cosine(a: String, b: String): String =
    s"""${dot(a, b)}
       |    / (sqrt(list_reduce(list_transform(range(1, 65),
       |        i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), (x, y) -> x + y))
       |     * sqrt(list_reduce(list_transform(range(1, 65),
       |        i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)))""".stripMargin

  /** The top-k tail over `scored(qid, cid, cos)`: rank by cos desc,
    * cid.
    */
  def topCosine(k: Int): String =
    s"""SELECT qid, CAST(rank AS INT) AS rank, cid, cos FROM (
       |  SELECT qid, cid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |  FROM scored) t
       |WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin

  /** IVF assignment with vectors 0..7 as centroids: CTEs `v` (with
    * norm `vn`), `cn` and `assign(vec_id, centroid_id)`.
    */
  val IvfAssignCtes: String =
    s"""v AS (SELECT vec_id, embedding,
       |    sqrt(${dot("embedding", "embedding")}) AS vn
       |  FROM embeddings),
       |cn AS (SELECT vec_id AS centroid_id, embedding AS ce, vn AS cnm
       |  FROM v WHERE vec_id < 8),
       |assign AS (SELECT vec_id, centroid_id FROM (
       |    SELECT v.vec_id, cn.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
       |        ${dot("v.embedding", "cn.ce")} / (v.vn * cn.cnm) DESC,
       |        cn.centroid_id) AS rn
       |    FROM v, cn) t WHERE rn = 1)""".stripMargin

  /** SemDeDup over the vectors in `src` against centroids `c$n`:
    * nearest-centroid `assign$n`, normed `sided$n`, same-cell pairs with
    * cosine ≥ 0.30 `pairs$n(u, v)`, closed into [[components]] `cc$n`.
    */
  def semDedupCtes(src: String, n: String): String =
    s"""scored$n AS (SELECT vec_id, centroid_id,
       |    ${cosine("embedding", "ce")}
       |    AS cos
       |  FROM $src, c$n),
       |assign$n AS (SELECT vec_id, centroid_id FROM (
       |  SELECT vec_id, centroid_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, centroid_id) AS rn
       |  FROM scored$n) t WHERE rn = 1),
       |sided$n AS (SELECT a.vec_id, a.centroid_id, e.embedding,
       |    sqrt(${dotWrapped("e.embedding", "e.embedding")}) AS nrm
       |  FROM assign$n a JOIN $src e USING (vec_id)),
       |pairs$n AS (SELECT x.vec_id AS u, y.vec_id AS v
       |  FROM sided$n x JOIN sided$n y
       |    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
       |  WHERE list_reduce(list_transform(range(1, 65),
       |      i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)),
       |      (a, b) -> a + b) / (x.nrm * y.nrm) >= 0.30),
       |${components(s"pairs$n", n)}""".stripMargin

  private val QuantCodesSql =
    """CASE WHEN mx > mn THEN list_transform(embedding,
      |    v -> LEAST(CAST(FLOOR((CAST(v AS DOUBLE) - mn) * 255
      |      / (mx - mn)) AS BIGINT), 255))
      |  ELSE list_transform(embedding, v -> CAST(0 AS BIGINT))
      |  END""".stripMargin

  /** Per-vector int8 codes: CTE `range` holds each embedding's min/max,
    * `c(vec_id, codes)` its 0..255 min/max-scaled codes.
    */
  def quantCodesCtes(range: String): String =
    s"""$range AS (SELECT vec_id, embedding,
       |    CAST(list_min(embedding) AS DOUBLE) AS mn,
       |    CAST(list_max(embedding) AS DOUBLE) AS mx
       |  FROM embeddings),
       |c AS (SELECT vec_id, $QuantCodesSql AS codes FROM $range)""".stripMargin

  /** q294/q297/q299/q300 shared oracle CTEs: int8 codes + floor-mean
    * centroids + all (point, centroid) squared distances (DuckDB
    * inlines CTEs lazily, so queries referencing only `c` pay only `c`).
    */
  val CentroidCtes: String =
    """r0 AS (SELECT vec_id, label, embedding,
      |    CAST(list_min(embedding) AS DOUBLE) AS mn,
      |    CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings),
      |c AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    CASE WHEN mx > mn THEN list_transform(embedding,
      |        v -> LEAST(CAST(FLOOR((CAST(v AS DOUBLE) - mn) * 255
      |          / (mx - mn)) AS BIGINT), 255))
      |      ELSE list_transform(embedding, v -> CAST(0 AS BIGINT))
      |      END AS codes FROM r0),
      |ds AS (SELECT label, i, CAST(SUM(codes[i]) AS BIGINT) AS s,
      |    COUNT(*) AS cnt
      |  FROM c, (SELECT unnest(range(1, 65)) AS i) ii GROUP BY 1, 2),
      |cent AS (SELECT label, list(s // cnt ORDER BY i) AS cent
      |  FROM ds GROUP BY 1),
      |pd AS (SELECT p.vec_id, p.label, cc.label AS clabel,
      |    CAST(list_reduce(list_transform(range(1, 65),
      |      i -> (p.codes[i] - cc.cent[i]) * (p.codes[i] - cc.cent[i])),
      |      (x, y) -> x + y) AS BIGINT) AS d2
      |  FROM c p, cent cc)""".stripMargin

  // ---- events and orders ----

  /** The SCD streak CTEs over `d(user_id, day, activity_class)`: `c`
    * flags each class change, `s` numbers the streaks.
    */
  val ScdStreakCtes: String =
    """c AS (
      |  SELECT *, CASE WHEN activity_class =
      |      LAG(activity_class) OVER (PARTITION BY user_id ORDER BY day)
      |    THEN 0 ELSE 1 END AS changed
      |  FROM d),
      |s AS (
      |  SELECT *, SUM(changed) OVER (PARTITION BY user_id ORDER BY day
      |    ROWS UNBOUNDED PRECEDING) AS streak
      |  FROM c)""".stripMargin

  /** Median and p90 order value per status. */
  val StatusPercentilesOracle: String =
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.5) AS median_price,
      |  quantile_cont(o_totalprice, 0.9) AS p90_price,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
