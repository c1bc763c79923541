package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = {
    val rng = new scala.util.Random(7)
    (0L until 50L).map(i =>
      (i, Seq.fill(16)(rng.nextGaussian().toFloat))).toDF(
      "vec_id", "embedding")
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f), 1.0),
      (Seq(1f, 0f), Seq(0f, 1f), 0.0),
      (Seq(1f, 0f), Seq(-1f, 0f), -1.0)).toDF("a", "b", "expected")
    val bad = df.filter(
      abs(Similarity.cosine($"a", $"b") - $"expected") > 1e-9)
    assert(bad.count() == 0)
  }

  test("bruteForceTopK ranks by cosine, excludes self, k rows per query") {
    val queries = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val cands = vecs.select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val got = Similarity.bruteForceTopK(queries, cands, 4)
    assert(got.count() == 12)
    assert(got.filter($"qid" === $"cid").count() == 0)
    // ranks are dense 1..4 and cosine non-increasing within a query
    val rows = got.orderBy($"qid", $"rank")
      .as[(Long, Int, Long, Double)].collect()
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).toSeq == Seq(1, 2, 3, 4))
      assert(rs.map(_._4).toSeq.reverse.sorted.reverse == rs.map(_._4).toSeq)
    }
  }

  test("ivfAssign maps every vector to exactly one cell; seeds self-map") {
    val centroids = vecs.filter($"vec_id" < 4)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid"))
    val got = Similarity.ivfAssign(vecs, centroids)
    assert(got.count() == 50)
    val seeds = got.filter($"vec_id" < 4)
      .as[(Long, Long, Double)].collect()
    seeds.foreach { case (v, c, cos) =>
      assert(v == c && math.abs(cos - 1.0) < 1e-9)
    }
  }

  test("ivfSearch finds the planted cluster-mates with nprobe=1") {
    // two tight clusters around orthogonal axes: IVF with the two
    // axis seeds as centroids and nprobe=1 must return exactly the
    // query's cluster-mates, matching brute force within the cluster
    val rng = new scala.util.Random(11)
    def around(base: Seq[Float], id: Long) =
      (id, base.map(x => x + rng.nextGaussian().toFloat * 0.01f))
    val axisA = Seq(10f, 0f, 0f, 0f)
    val axisB = Seq(0f, 10f, 0f, 0f)
    val corpus = ((0L until 5L).map(around(axisA, _)) ++
      (5L until 10L).map(around(axisB, _))).toDF("vec_id", "embedding")
    val centroids = Seq((0L, axisA), (1L, axisB))
      .toDF("centroid_id", "centroid")
    val queries = corpus.filter($"vec_id" === 0L || $"vec_id" === 7L)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = Similarity.ivfSearch(corpus, centroids, queries,
      k = 4, nprobe = 1)
      .as[(Long, Int, Long, Double)].collect()
    assert(got.length == 8)
    val byQ = got.groupBy(_._1)
    assert(byQ(0L).map(_._3).toSet == Set(1L, 2L, 3L, 4L),
      "query 0 must see only its own cluster")
    assert(byQ(7L).map(_._3).toSet == Set(5L, 6L, 8L, 9L),
      "query 7 must see only its own cluster")
    got.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._4).toSeq.reverse.sorted.reverse ==
        sorted.map(_._4).toSeq, "cos non-increasing by rank")
    }
  }

  test("ivfSearch with nprobe = all cells equals brute force") {
    val centroids = vecs.filter($"vec_id" < 4)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid"))
    val queries = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val ivf = Similarity.ivfSearch(vecs, centroids, queries,
        k = 5, nprobe = 4)
      .as[(Long, Int, Long, Double)].collect().toSet
    val bf = Similarity.bruteForceTopK(queries,
        vecs.select($"vec_id".as("cid"), $"embedding".as("cvec")), 5)
      .select($"qid", $"rank".cast("int"), $"cid", $"cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(ivf == bf, "probing every cell must recover brute force")
  }

  test("srpSearch finds an exact duplicate at rank 1, within-bucket only") {
    val planes = Similarity.planes(6, 16)
    // corpus = base vectors + an exact copy of vector 0 (id 100):
    // the copy shares vector 0's bucket by construction and must come
    // back as its rank-1 hit with cosine 1
    val dup = vecs.filter($"vec_id" === 0L)
      .select(lit(100L).as("vec_id"), $"embedding")
    val corpus = vecs.unionByName(dup)
    val queries = vecs.filter($"vec_id" === 0L)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = Similarity.srpSearch(corpus, queries, planes, k = 3)
      .orderBy($"rank").as[(Long, Int, Long, Double)].collect()
    assert(got.nonEmpty)
    val (_, rank1, cid1, cos1) = got.head
    assert(rank1 == 1 && cid1 == 100L && math.abs(cos1 - 1.0) < 1e-9)
    // every candidate returned must share the query's bucket
    val bucketOf = Similarity.srpBucket($"embedding", planes)
    val qBucket = corpus.filter($"vec_id" === 0L)
      .select(bucketOf).as[Long].head()
    val candBuckets = corpus
      .filter($"vec_id".isin(got.map(_._3).toIndexedSeq: _*))
      .select(bucketOf).as[Long].collect()
    assert(candBuckets.forall(_ == qBucket))
  }

  test("SRP buckets are deterministic and group identical vectors") {
    val doubled = vecs.unionByName(vecs)
    // bucket occupancy, planes re-derived from the seed on each call
    def histogram() = doubled
      .groupBy(Similarity.srpBucket($"embedding", Similarity.planes(8, 16)))
      .count().as[(Long, Long)].collect().toMap
    val h1 = histogram()
    val h2 = histogram()
    assert(h1 == h2, "bucketing must be deterministic")
    assert(h1.values.sum == 100)
    assert(h1.values.forall(_ % 2 == 0),
      "identical vectors must land in the same bucket")
  }

  test("hardNegatives excludes same-label candidates, ranks by cosine") {
    val labeled = vecs.withColumn("label", ($"vec_id" % 5).cast("int"))
    val queries = labeled.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"label".as("qlabel"),
        $"embedding".as("qvec"))
    val cands = labeled.select($"vec_id".as("cid"),
      $"label".as("clabel"), $"embedding".as("cvec"))
    val got = Similarity.hardNegatives(queries, cands, 4)
    assert(got.count() == 12)
    // no returned negative shares the query's label (qid ≡ qlabel mod 5)
    val joined = got.join(
      cands.select($"cid", $"clabel"), "cid")
    assert(joined.filter($"qid" % 5 === $"clabel").count() == 0)
    val rows = got.orderBy($"qid", $"rank")
      .as[(Long, Int, Long, Double)].collect()
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).toSeq == Seq(1, 2, 3, 4))
      assert(rs.map(_._4).toSeq.reverse.sorted.reverse == rs.map(_._4).toSeq)
    }
  }

  test("labelConsistency flags the planted mislabeled point") {
    // two tight clusters on opposite axes; id 4 sits in cluster A but
    // wears cluster B's label — its whole neighborhood disagrees.
    // (A-cluster points may draw id 4 as one of their 3 neighbors, so
    // their agreement is 2 or 3 — still a majority; only id 4 is a
    // minority-agreement suspect.)
    def jitter(base: Seq[Float], i: Int): Seq[Float] =
      base.zipWithIndex.map { case (x, j) =>
        x + (if (j == i % 4) 0.01f else 0f) }
    val rows =
      (0L to 3L).map(i => (i, jitter(Seq(1f, 0f, 0f, 0f), i.toInt), 0)) ++
        Seq((4L, jitter(Seq(1f, 0f, 0f, 0f), 4), 1)) ++
        (5L to 9L).map(i => (i, jitter(Seq(0f, 1f, 0f, 0f), i.toInt), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    // one plane separating the clusters → 2 buckets
    val got = Similarity.labelConsistency(
        df, planes = Seq(Seq(1.0, -1.0, 0.0, 0.0)), k = 3)
      .as[(Long, Int, Long, Long)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    assert(got.keySet == (0L to 9L).toSet)
    assert(got.values.forall(_._1 == 3L), "4-point buckets give k=3")
    assert(got(4L)._2 == 0L, "planted point: zero agreement")
    val suspects = got.collect {
      case (id, (nb, agree)) if 2 * agree < nb => id }
    assert(suspects.toSet == Set(4L), s"only the plant is a suspect")
  }
}
