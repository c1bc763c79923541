package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry.select]], the query rule Bench, Verify and Probe share,
  * without a session: a typo must fail, never select nothing. */
class SparkEntrySpec extends AnyFunSuite {

  test("select: every query sorted, unknown names throw") {
    val all = SparkEntry.select(Nil)
    assert(all.size == 311)
    assert(all == SparkEntry.allQueries.map(_.name).sorted)
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q1_agg", "q1_agx")))
    assert(e.getMessage == "unknown queries: q1_agx")
    assert(SparkEntry.select(Seq("q23_frames", "q1_agg")) ==
      Seq("q23_frames", "q1_agg"))
  }
}
