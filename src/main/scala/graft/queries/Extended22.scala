package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{CdcChunk, Graph, Profile, Winnow}
import graft.plans.{Md5PrefixLong, UnicodeNormalize}

/** Round-8 tranche VIII: the corpus-hygiene layer — shift-robust
  * chunk dedup (content-defined chunking, the rsync/FastCDC boundary
  * rule at token granularity), Unicode NFC normalization as a native
  * codegen expression (byte-identical to DuckDB's utf8proc
  * `nfc_normalize`), community detection over the winnowing overlap
  * graph (synchronous deterministic label propagation), and the
  * Heaps'-law vocabulary growth curve via the first-occurrence trick
  * (one keyed aggregate, no per-prefix rescans).
  *
  * Reference anchor: the curriculum's dedup/quality homework
  * (`4-apache-spark-training` dedup exercises); these are the
  * robustness/hygiene extensions a 100 TB curation run layers on top.
  */
object Extended22 {

  /** Content-defined chunk dedup ([[CdcChunk]]): k = 3 window, cut
    * when the 60-bit window hash ≡ 0 (mod 8) — expected 8-window
    * chunks that RESYNC after an edit, where fixed-size chunking
    * (q168) loses alignment after the first inserted token. Chunking
    * is entirely in-row; only (doc, chunk-hash) longs shuffle (the
    * oracle groups the chunk STRINGS — same partition, md5-prefix
    * hash equality stands in for string equality corpus-wide).
    */
  val q277_cdc_chunks: Q = Q(
    "q277_cdc_chunks",
    s"""WITH ${OracleSql.CdcChunkCtes},
      |occ AS (SELECT chunk, COUNT(*) AS cnt FROM ch GROUP BY 1)
      |SELECT c2.doc_id, CAST(MIN(c2.n) AS BIGINT) AS n_tok,
      |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(CASE WHEN o.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup
      |FROM ch c2 JOIN occ o USING (chunk)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    CdcChunk.chunkStats(
        Tables.loadParallel(spark, dir, "documents"),
        "doc_id", "text", k = 3, m = 8)
      .orderBy($"doc_id")
  }

  /** Unicode NFC normalization ([[graft.plans.UnicodeNormalize]] —
    * codegen'd `java.text.Normalizer`, no UDF): the corpus is ASCII,
    * so the query manufactures the mixed-form reality a multi-crawl
    * corpus has — every 'a'/'o' decomposed to base + combining mark
    * (U+0301 / U+0308) — then proves engine and oracle compose the
    * SAME bytes: NFC('a'+◌́) = 'á'. Byte lengths (octet_length /
    * strlen — never char length, whose unit engines disagree on) and
    * the md5-prefix fingerprint of the normalized form pin parity.
    */
  val q278_nfc_normalize: Q = Q(
    "q278_nfc_normalize",
    """SELECT doc_id, CAST(strlen(d) AS BIGINT) AS n_dec,
      |  CAST(strlen(nfc_normalize(d)) AS BIGINT) AS n_nfc,
      |  ('0x' || substr(md5(nfc_normalize(d)), 1, 15))::BIGINT AS fp
      |FROM (SELECT doc_id,
      |    replace(replace(text, 'a', 'a' || chr(769)),
      |            'o', 'o' || chr(776)) AS d
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.loadParallel(spark, dir, "documents")
      .select($"doc_id",
        replace(replace($"text", lit("a"), lit("a\u0301")),
          lit("o"), lit("o\u0308")).as("d"))
      .select($"doc_id",
        octet_length($"d").cast("long").as("n_dec"),
        octet_length(UnicodeNormalize($"d", "NFC")).cast("long")
          .as("n_nfc"),
        Md5PrefixLong(UnicodeNormalize($"d", "NFC")).as("fp"))
      .orderBy($"doc_id")
  }

  /** Communities over the winnowing overlap graph
    * ([[Graph.labelPropagation]]): the q270 document pairs as edges,
    * 3 synchronous rounds, most-frequent-neighbor-label updates with
    * self-loop and min-label ties — deterministic by construction
    * (plain LPA's order dependence would be oracle-hostile). Where
    * connected components (q44) give transitive dedup GROUPS, LPA
    * separates bridge-linked clusters into distinct communities.
    * The oracle unrolls the 3 rounds as chained CTEs.
    */
  val q279_lpa_communities: Q = Q(
    "q279_lpa_communities",
    s"""WITH ${OracleSql.winnowPairCtes},
      |nodes AS (SELECT DISTINCT a AS v FROM pairs
      |  UNION SELECT DISTINCT b AS v FROM pairs),
      |adj AS (SELECT a AS v, b AS u FROM pairs
      |  UNION ALL SELECT b AS v, a AS u FROM pairs
      |  UNION ALL SELECT v, v AS u FROM nodes),
      |l0 AS (SELECT v, v AS lab FROM nodes),
      |${lpaIterSql("l0", "l1")},
      |${lpaIterSql("l1", "l2")},
      |${lpaIterSql("l2", "l3")}
      |SELECT v AS doc_id, CAST(lab AS BIGINT) AS comm
      |FROM l3 ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val fps = Winnow.fingerprints(
      Tables.loadParallel(spark, dir, "documents"),
      "doc_id", "text", k = 5, w = 4)
    val pairs = Winnow.sharedFingerprints(fps, maxDf = 20)
    Graph.labelPropagation(
        pairs.select($"a".as("u"), $"b".as("v")), iters = 3)
      .select($"id".as("doc_id"), $"comm")
      .orderBy($"doc_id")
  }

  private def lpaIterSql(prev: String, out: String): String =
    s"""$out AS (SELECT v, lab FROM (
      |  SELECT a.v AS v, l.lab AS lab, COUNT(*) AS c,
      |    ROW_NUMBER() OVER (PARTITION BY a.v
      |      ORDER BY COUNT(*) DESC, l.lab) AS rk
      |  FROM adj a JOIN $prev l ON a.u = l.v
      |  GROUP BY a.v, l.lab) x WHERE rk = 1)""".stripMargin

  /** Heaps'-law vocabulary growth ([[Profile.vocabGrowth]]):
    * cumulative types vs cumulative tokens at 10 equal-rank document
    * cutpoints. The scale trick is the FIRST-OCCURRENCE reduction —
    * "types seen by prefix p" never rescans a prefix because each
    * type counts exactly once, at `min(doc)`; ranks run through
    * [[graft.operators.PrefixSum]]'s two-phase scan and the
    * cumulations touch exactly 10 rows. Bucket = exact integer
    * `(rank−1)·10 DIV n + 1`, never NTILE (remainder placement is
    * engine-defined).
    */
  val q280_vocab_growth: Q = Q(
    "q280_vocab_growth",
    """WITH d AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS t FROM documents),
      |r AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS nt,
      |    ROW_NUMBER() OVER (ORDER BY doc_id) AS rk,
      |    COUNT(*) OVER () AS n FROM d),
      |dd AS (SELECT doc_id, nt,
      |    CAST((rk - 1) * 10 // n AS BIGINT) + 1 AS bucket FROM r),
      |ft AS (SELECT w, MIN(doc_id) AS doc_id FROM (
      |    SELECT doc_id, unnest(t) AS w FROM d) x GROUP BY 1),
      |nw AS (SELECT doc_id, COUNT(*) AS newt FROM ft GROUP BY 1),
      |pb AS (SELECT dd.bucket, MAX(dd.doc_id) AS cut_doc,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(dd.nt) AS BIGINT) AS toks,
      |    CAST(SUM(COALESCE(nw.newt, 0)) AS BIGINT) AS types
      |  FROM dd LEFT JOIN nw USING (doc_id) GROUP BY 1)
      |SELECT bucket, CAST(cut_doc AS BIGINT) AS cut_doc, n_docs,
      |  CAST(SUM(toks) OVER (ORDER BY bucket) AS BIGINT)
      |    AS cum_tokens,
      |  CAST(SUM(types) OVER (ORDER BY bucket) AS BIGINT)
      |    AS cum_types
      |FROM pb ORDER BY bucket""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Profile.vocabGrowth(
        Tables.loadParallel(spark, dir, "documents"),
        "doc_id", $"text", buckets = 10)
      .orderBy($"bucket")
  }

  val all: Seq[Q] = Seq(q277_cdc_chunks, q278_nfc_normalize,
    q279_lpa_communities, q280_vocab_growth)
}
