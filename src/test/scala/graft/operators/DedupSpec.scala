package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Near-dup detection on planted duplicates: the fixture the synthetic
  * corpus lacks (its documents are all unique).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the sun sets behind the quiet hills of the old valley"
  private val nearDup = base.replace("quick", "fast") // 1-word edit
  private val unrelated = "completely different content about spark " +
    "query engines and distributed shuffle partitioning at scale"

  private lazy val docs = Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, unrelated))
    .toDF("doc_id", "text")

  test("LSH candidate pairs find exact and near dups, not unrelated") {
    val pairs = Dedup.lshCandidatePairs(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup must collide")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      "near dup should collide in at least one band")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc must not collide")
  }

  test("jaccard: identical=1, near-dup high, unrelated 0") {
    val s = docs.select($"doc_id",
      graft.functions.TextFunctions.shingles($"text").as("sh"))
    val a = s.as("a"); val b = s.as("b")
    val jac = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(jac((1L, 2L)) == 1.0)
    assert(jac((1L, 3L)) > 0.5 && jac((1L, 3L)) < 1.0)
    assert(jac((1L, 4L)) == 0.0)
  }

  test("end-to-end near-dup dedup keeps one representative") {
    val survivors = Dedup.nearDupDedup(docs, "text", "doc_id",
      jaccardThreshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    // 2 (exact dup of 1) and 3 (near dup of 1) collapse into 1;
    // unrelated 4 survives
    assert(survivors == Set(1L, 4L), survivors)
  }

  test("thresholdJoin equals brute-force Jaccard on a random corpus") {
    // random docs over a tiny vocabulary (forces shared shingles and
    // borderline similarities) + planted exact/near duplicates
    val rng = new scala.util.Random(23)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val randomDocs = (1L to 40L).map(i =>
      (i, Seq.fill(8 + rng.nextInt(10))(
        vocab(rng.nextInt(vocab.length))).mkString(" ")))
    val planted = Seq(
      (101L, base), (102L, base), (103L, nearDup), (104L, unrelated))
    val corpus = (randomDocs ++ planted).toDF("doc_id", "text")

    val got = Dedup.thresholdJoin(corpus, "text", "doc_id", 6000)
      .select($"id_a", $"id_b", $"j_bp")
      .as[(Long, Long, Long)].collect().toSet

    val staged = corpus
      .withColumn("_t", graft.functions.TextFunctions.lowerTokens($"text"))
      .select($"doc_id", array_sort(
        graft.functions.TextFunctions.shinglesOfTokens($"_t")).as("sh"))
      .filter(size($"sh") > 0)
    val brute = staged.as("a")
      .join(staged.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        graft.plans.SortedIntersectCount(col("a.sh"), col("b.sh"))
          .as("i"),
        (size(col("a.sh")) + size(col("b.sh"))).as("s"))
      .select($"id_a", $"id_b", expr("(i * 10000) DIV (s - i)").as("j_bp"))
      .filter($"j_bp" >= 6000)
      .as[(Long, Long, Long)].collect().toSet

    assert(got == brute,
      s"prefix filter must be exact: missing=${brute -- got} " +
        s"extra=${got -- brute}")
    assert(brute.exists { case (a, b, _) => a == 101L && b == 102L },
      "the planted exact dup must be present in the reference set")
  }

  test("incrementalNearDup: history match, intra-delta match, clean") {
    val history = Seq((10L, base), (11L, unrelated)).toDF("doc_id", "text")
    val delta = Seq(
      (20L, base),       // dup of history doc 10
      (21L, nearDup),    // near-dup of history doc 10
      (22L, nearDup),    // ALSO dup of earlier delta 21 — min wins: 10
      (23L, "something else entirely about graphs and bloom filters " +
        "and windows and watermarks in streaming systems today"))
      .toDF("doc_id", "text")
    val index = Dedup.bandIndex(history, "text", "doc_id")
    val got = Dedup.incrementalNearDup(index, delta, "text", "doc_id",
        jaccardThreshold = 0.6)
      .orderBy($"id")
      .as[(Long, Option[Long], Boolean)].collect().toSeq
    assert(got == Seq(
      (20L, Some(10L), true),
      (21L, Some(10L), true),
      (22L, Some(10L), true),
      (23L, None, false)), s"got $got")
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    val near = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val far = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(near < 15, s"near-dup hamming $near should be small")
    assert(far > near, s"unrelated hamming $far should exceed near $near")
  }

  test("simhashNearDupPairs equals the brute-force band-free scan") {
    // pigeonhole completeness: every pair within maxDist must surface
    // through some shared band — compare against the all-pairs answer
    val got = Dedup.simhashNearDupPairs(docs, "text", "doc_id",
        maxDist = 3, bands = 4)
      .as[(Long, Long, Int)].collect().toSet
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("h"))
      .as[(Long, Long)].collect()
    val expected = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    assert(got == expected)
    assert(expected.contains((1L, 2L, 0)), "exact dup must appear at dist 0")
  }

  private def toks(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("chunkDedup keeps the corpus-wide first occurrence of each " +
    "chunk, by (id, position)") {
    // doc 1 = A B; doc 2 = A C (A re-occurs); doc 3 = 5 tokens (no
    // full chunk); doc 4 = D D (intra-doc duplicate); 3-token tail
    // on doc 2 must be ignored
    val chunkA = toks("a", 10)
    val corpus = Seq(
      (1L, s"$chunkA ${toks("b", 10)}"),
      (2L, s"$chunkA ${toks("c", 10)} x1 x2 x3"),
      (3L, toks("e", 5)),
      (4L, s"${toks("d", 10)} ${toks("d", 10)}"))
      .toDF("doc_id", "text")
    val got = Dedup.chunkDedup(corpus, "text", "doc_id")
      .select($"doc_id", $"chunk_idx", $"kept")
      .as[(Long, Int, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 0, true), (1L, 1, true),   // first A, first B
      (2L, 0, false), (2L, 1, true),  // A again → dropped; first C
      (4L, 0, true), (4L, 1, false)), // intra-doc dup dropped too
      s"got $got")
  }

  test("chunkDedup on a corpus with no full chunk emits no rows") {
    val corpus = Seq((1L, toks("a", 9)), (2L, toks("b", 3)))
      .toDF("doc_id", "text")
    assert(Dedup.chunkDedup(corpus, "text", "doc_id").count() == 0)
  }

  test("chunkDedup is idempotent: a corpus rebuilt from kept chunks " +
    "drops nothing") {
    val corpus = Seq(
      (1L, s"${toks("a", 10)} ${toks("b", 10)}"),
      (2L, s"${toks("a", 10)} ${toks("c", 10)}"),
      (3L, s"${toks("c", 10)} ${toks("a", 10)} ${toks("z", 10)}"))
      .toDF("doc_id", "text")
    val first = Dedup.chunkDedup(corpus, "text", "doc_id")
    assert(first.filter(!$"kept").count() == 3,
      "the re-occurrences of A (×2) and C must drop")
    // rebuild each doc from its kept chunks (fingerprints have no
    // text, so rebuild by re-slicing the original positions)
    val keptPos = first.filter($"kept")
      .select($"doc_id", $"chunk_idx").as[(Long, Int)].collect().toSet
    val rebuilt = corpus.as[(Long, String)].collect().map {
      case (id, text) =>
        val t = text.split("\\s+")
        id -> t.grouped(10).zipWithIndex
          .filter { case (g, i) => g.length == 10 && keptPos((id, i)) }
          .map(_._1.mkString(" ")).mkString(" ")
    }.filter(_._2.nonEmpty).toSeq.toDF("doc_id", "text")
    val second = Dedup.chunkDedup(rebuilt, "text", "doc_id")
    assert(second.filter(!$"kept").count() == 0,
      "re-deduping the deduped corpus must be a no-op")
  }

  test("removeWorse: lower priority loses, ties lose by higher id, " +
    "a pair's winner can still lose elsewhere") {
    // 1-2: 2 wins on priority; 2-3: tie, 3 loses on id; 4-5: 5 wins,
    // so 4 drops even though 4 beat nobody — and 2 survives both its
    // pairs. 6 is pairless and must not appear.
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val prio = Seq((1L, 10L), (2L, 20L), (3L, 20L), (4L, 5L), (5L, 9L),
      (6L, 1L)).toDF("id", "p")
    val removed = Dedup.removeWorse(pairs, prio, "id", "p")
      .as[Long].collect().toSet
    assert(removed == Set(1L, 3L, 4L),
      s"expected losers {1 (priority), 3 (id tie), 4 (priority)}: $removed")
  }
}
