package graft.functions

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

/** ScalaCheck over the pure compress/estimate kernel: structural
  * invariants (weight conservation, sorted bounded centroids) and
  * rank accuracy, for single digests AND for merged digests — the
  * property that makes per-batch digests a sound maintained state.
  *
  * Accuracy is checked as an ORDER-STATISTICS envelope —
  * sorted[⌊(q−ε)n⌋−1] ≤ estimate ≤ sorted[⌈(q+ε)n⌉+1] — not as a
  * rank count of the estimate. The ±1 index absorbs the
  * interpolation-convention half-point at tiny n (midpoint ranks put
  * q=0.25 of 5 points BETWEEN the first two order statistics); on
  * atom-heavy data (many duplicates) the digest's boundary cluster
  * mixes two atoms and interpolation legitimately lands strictly
  * between them, so a count-based check jumps a whole atom's mass
  * and fails even when the estimate is within ε rank of q (found
  * live: 5 atoms × 2440 rows, q=0.75, est 3.0004 counts every 3
  * below it).
  *
  * The ε per regime is CALIBRATED, not aspirational: a 30k-case
  * adversarial sweep (uniform + 6-decade log-scale continuous;
  * 1–8-atom duplicate data; n ≤ 2000 per side) measured worst
  * residual rank error beyond the ±1 slack of 0.017 (single digest,
  * continuous), 0.045 (single, atoms), 0.035 (merged, continuous),
  * 0.063 (merged, atoms) at δ=100 — the k₁ cluster width
  * 2π√(q(1−q))/δ, doubled for mixed-atom boundary clusters and
  * doubled again across a merge. Bounds below are those measurements
  * ×~1.5; an off-by-cluster implementation bug lands far outside.
  *
  * forAllNoShrink throughout: shrinking a failing pair of ≤2000-double
  * lists re-runs the O(n log n) kernel over a combinatorial shrink
  * tree (observed: a single marginal failure pinned a CPU for 17 min
  * without terminating); the unshrunk input prints and is diagnosable
  * as-is.
  */
object TDigestProps extends Properties("TDigest") {

  private val Delta = 100
  private val Qs = Seq(0.05, 0.25, 0.5, 0.75, 0.95)

  /** Continuous regimes: uniform and 6-decade log-scale magnitudes
    * (all-distinct with probability ~1). Gen.choose over a wide Long
    * range, NOT chooseNum — chooseNum front-loads its edge cases
    * (0.0, ±1.0, the bounds), which turns the "continuous" stream
    * into atom-heavy data and voids this regime's tighter ε.
    */
  private val contGen: Gen[List[Double]] = for {
    n <- Gen.choose(1, 2000)
    logScale <- Gen.oneOf(false, true)
    xs <- Gen.listOfN(n,
      if (logScale)
        for {
          e <- Gen.choose(0L, 6000000L)
          neg <- Gen.oneOf(-1.0, 1.0)
        } yield neg * math.pow(10, e / 1e6)
      else Gen.choose(-1000000000000L, 1000000000000L).map(_ / 1e6))
  } yield xs

  /** Atom-heavy regime: n draws from ≤8 distinct values — the
    * duplicate masses that stress boundary-cluster interpolation.
    */
  private val atomGen: Gen[List[Double]] = for {
    n <- Gen.choose(1, 2000)
    k <- Gen.choose(1, 8)
    xs <- Gen.listOfN(n, Gen.choose(0, k - 1).map(_.toDouble))
  } yield xs

  private val anyGen: Gen[List[Double]] = Gen.oneOf(contGen, atomGen)

  private def digest(xs: Seq[Double]) =
    TDigest.compress(xs.map((_, 1L)), Delta)

  /** Order-statistic envelope with `slack` indices of give on each
    * side: 1 absorbs the interpolation-convention half-point; the
    * weighted property passes the heaviest atom's weight instead,
    * since midpoint interpolation can smear across one un-splittable
    * heavy point (a digest cannot subdivide a point's mass).
    */
  private def rankOk(xs: Seq[Double], ms: Vector[Double],
      ws: Vector[Long], eps: Double, slack: Int = 1): Boolean = {
    val sorted = xs.sorted.toIndexedSeq
    val n = xs.size
    Qs.forall { q =>
      val e = TDigest.estimate(ms, ws, q)
      val lo = sorted(
        math.max(0, math.floor((q - eps) * n).toInt - slack))
      val hi = sorted(
        math.min(n - 1, math.ceil((q + eps) * n).toInt + slack))
      lo <= e && e <= hi
    }
  }

  property("centroids conserve weight, stay sorted and in range") =
    forAllNoShrink(anyGen) { xs =>
      val (ms, ws) = digest(xs)
      ws.sum == xs.size.toLong &&
        ms == ms.sorted &&
        ms.forall(m => m >= xs.min - 1e-9 && m <= xs.max + 1e-9) &&
        ms.size <= 2 * Delta
    }

  property("single digest is rank-accurate on continuous data") =
    forAllNoShrink(contGen) { xs =>
      val (ms, ws) = digest(xs)
      rankOk(xs, ms, ws, eps = 0.03)
    }

  property("single digest is rank-sane on atom-heavy data") =
    forAllNoShrink(atomGen) { xs =>
      val (ms, ws) = digest(xs)
      rankOk(xs, ms, ws, eps = 0.07)
    }

  property("merged digests stay rank-accurate for the union " +
      "(continuous)") =
    forAllNoShrink(contGen, contGen) { (a, b) =>
      val (ma, wa) = digest(a)
      val (mb, wb) = digest(b)
      val (ms, ws) =
        TDigest.compress(ma.zip(wa) ++ mb.zip(wb), Delta)
      ws.sum == (a.size + b.size).toLong &&
        rankOk(a ++ b, ms, ws, eps = 0.06)
    }

  property("merged digests stay rank-sane for the union (atoms)") =
    forAllNoShrink(atomGen, atomGen) { (a, b) =>
      val (ma, wa) = digest(a)
      val (mb, wb) = digest(b)
      val (ms, ws) =
        TDigest.compress(ma.zip(wa) ++ mb.zip(wb), Delta)
      ws.sum == (a.size + b.size).toLong &&
        rankOk(a ++ b, ms, ws, eps = 0.09)
    }

  /** The property that makes a LONG-RUNNING maintained digest sound:
    * sequential per-batch folds (one merge per micro-batch, so merge
    * depth = epoch count) do NOT accumulate error. Measured depth
    * sweep (4k cases each): worst continuous residual 0.032/0.035/
    * 0.034/0.034/0.031 at depths 2/5/10/20/40; atoms plateau at
    * 0.067 — the k-condition re-compression bounds the error
    * independent of merge count. Bounds below are the plateau ×~1.5.
    */
  property("deep sequential merge folds stay rank-accurate") =
    forAllNoShrink(Gen.choose(3, 10).flatMap(d =>
        Gen.listOfN(d, contGen)), Gen.choose(3, 10).flatMap(d =>
        Gen.listOfN(d, atomGen))) { (contBatches, atomBatches) =>
      def fold(batches: List[List[Double]])
          : (Vector[Double], Vector[Long]) =
        batches.tail.foldLeft(digest(batches.head)) { (cur, b) =>
          val (mb, wb) = digest(b)
          TDigest.compress(cur._1.zip(cur._2) ++ mb.zip(wb), Delta)
        }
      val (mc, wc) = fold(contBatches)
      val (ma, wa) = fold(atomBatches)
      wc.sum == contBatches.map(_.size).sum.toLong &&
        rankOk(contBatches.flatten, mc, wc, eps = 0.06) &&
        wa.sum == atomBatches.map(_.size).sum.toLong &&
        rankOk(atomBatches.flatten, ma, wa, eps = 0.10)
    }

  /** Weighted points: each row is an atom of mass w. Calibration
    * (20k cases, values continuous, w ≤ 25): worst rank error beyond
    * the heaviest atom's share is 0.011 single / 0.012 merged — the
    * envelope below is eps 0.03 plus that one-atom slack.
    */
  private val wGen: Gen[List[(Double, Long)]] = for {
    n <- Gen.choose(1, 400)
    xs <- Gen.listOfN(n, for {
      v <- Gen.choose(-1000000000000L, 1000000000000L).map(_ / 1e6)
      w <- Gen.choose(1L, 25L)
    } yield (v, w))
  } yield xs

  property("weighted digests are rank-accurate up to the heaviest " +
      "atom, single and merged") =
    forAllNoShrink(wGen, wGen) { (a, b) =>
      def expand(p: List[(Double, Long)]): List[Double] =
        p.flatMap { case (v, w) => List.fill(w.toInt)(v) }
      val (ma, wa) = TDigest.compress(a, Delta)
      val (mb, wb) = TDigest.compress(b, Delta)
      val (mm, wm) = TDigest.compress(ma.zip(wa) ++ mb.zip(wb), Delta)
      wa.sum == a.map(_._2).sum &&
        rankOk(expand(a), ma, wa, eps = 0.03,
          slack = a.map(_._2).max.toInt) &&
        rankOk(expand(a) ++ expand(b), mm, wm, eps = 0.03,
          slack = (a ++ b).map(_._2).max.toInt)
    }

  property("a value-uniform cluster reproduces its value exactly") =
    forAllNoShrink(Gen.choose(-1e6, 1e6), Gen.choose(1L, 1000L)) {
      (v, w) =>
        val (ms, ws) = TDigest.compress(List((v, w)), Delta)
        ms == Vector(v) && ws == Vector(w) &&
          TDigest.estimate(ms, ws, 0.5) == v
    }

  property("estimate is monotone in q and clamped to centroid range") =
    forAllNoShrink(anyGen) { xs =>
      val (ms, ws) = digest(xs)
      val es = (0 to 20).map(i => TDigest.estimate(ms, ws, i / 20.0))
      es.zip(es.tail).forall { case (lo, hi) => lo <= hi } &&
        es.head >= ms.head && es.last <= ms.last
    }
}
