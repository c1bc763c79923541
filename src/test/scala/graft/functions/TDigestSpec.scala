package graft.functions

import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Aggregator wiring over real shuffled partitions: the group-level
  * digest, the two-level sketch→merge route, and the single-value
  * edge all land inside the exact rank envelope.
  */
class TDigestSpec extends SparkSpec {
  import spark.implicits._

  private val n = 10000
  private lazy val df = spark.range(0, n)
    .select(($"id" % 4).as("g"),
      // deterministic spread with heavy repetition and outliers
      (($"id" * 2654435761L) % 100000).cast("double").as("v"))
    .repartition(16)

  // quantile estimates through the Aggregator SQL registers as
  // tdigest_p50_p95 (GraftFunctions), at any delta and probes
  private def quantiles(delta: Int, qs: Seq[Double])(col: Column) =
    udaf(new TDigest.QuantilesAgg(delta, qs), Encoders.scalaDouble)
      .apply(col)

  private def exactRank(vs: Array[Double], q: Double): Double = {
    val s = vs.sorted
    s(math.min(s.length - 1, math.max(0, (q * s.length).toInt)))
  }

  test("group digests estimate quantiles within the rank envelope") {
    val got = df.groupBy($"g")
      .agg(quantiles(100, Seq(0.5, 0.95))($"v").as("est"))
      .as[(Long, Seq[Double])].collect().toMap
    val raw = df.as[(Long, Double)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    raw.foreach { case (g, vs) =>
      val Seq(p50, p95) = got(g)
      assert(math.abs(vs.count(_ <= p50).toDouble / vs.length - 0.5)
        <= 0.03, s"g=$g p50")
      assert(math.abs(vs.count(_ <= p95).toDouble / vs.length - 0.95)
        <= 0.03, s"g=$g p95")
    }
  }

  test("two-level sketch -> mergeQuantiles matches a direct digest") {
    // batch by id ranges, digest each, merge the digests
    val merged = df.withColumn("batch", ($"v" % 7).cast("long"))
      .groupBy($"batch")
      .agg(TDigest.sketch(100)($"v").as("sk"))
      .agg(TDigest.mergeQuantiles(100, Seq(0.5, 0.95))($"sk").as("est"))
      .as[Seq[Double]].head()
    val vs = df.select($"v").as[Double].collect()
    val Seq(p50, p95) = merged
    assert(math.abs(vs.count(_ <= p50).toDouble / vs.length - 0.5)
      <= 0.03, "merged p50")
    assert(math.abs(vs.count(_ <= p95).toDouble / vs.length - 0.95)
      <= 0.03, "merged p95")
    assert(math.abs(p50 - exactRank(vs, 0.5)) / 100000.0 <= 0.05)
  }

  test("100k-group digest aggregation survives the object-hash " +
    "sort-based fallback") {
    // far past spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    // (128 in-memory keys per partition): the aggregation must spill
    // to the sort-based path and still finish with sane estimates —
    // the hazard a data-dependent GROUP BY hits at scale
    val got = spark.range(0, 200000)
      .select(($"id" % 100000).as("g"),
        ($"id" % 1000).cast("double").as("v"))
      .repartition(16)
      .groupBy($"g")
      .agg(quantiles(50, Seq(0.5))($"v").as("est"))
      .as[(Long, Seq[Double])]
    assert(got.count() == 100000L)
    // each group holds exactly {g%1000, (g+100000)%1000} = two equal
    // values mod 1000 → the digest returns their midpoint = the value
    val sample = got.filter($"g" === 777L).head()
    assert(sample._2 == Seq(777.0), s"g=777: $sample")
  }

  test("single-value groups return that value exactly") {
    val got = Seq((1L, 42.5)).toDF("g", "v")
      .groupBy($"g")
      .agg(quantiles(100, Seq(0.1, 0.5, 0.9))($"v").as("est"))
      .as[(Long, Seq[Double])].head()
    assert(got._2 == Seq(42.5, 42.5, 42.5))
  }
}
