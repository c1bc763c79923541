package graft.core

import graft.SparkSpec
import graft.operators.Graph

/** [[Barrier]] keeps its caller's call site: the jobs it starts are
  * named after the code that asked for the barrier, and whatever call
  * site the caller had set is back in place afterwards.
  */
class BarrierSpec extends SparkSpec {
  import spark.implicits._

  private val ShortForm = "callSite.short"
  private val LongForm = "callSite.long"

  /** (call site the job was submitted under, its stage names) for
    * every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[(String, Seq[String])] =
    Trace(spark, "barrier")(body)._2.jobs
      .map(j => j.callSite.orNull -> j.stageNames)

  test("the stages a barrier starts inside an operator are named after " +
    "the operator's file, not Barrier.scala") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("u", "v")
    // no local solve: every round is a barrier over joins and aggregates,
    // whose shuffle stages AQE submits from its own threads
    val jobs =
      jobsOf(Graph.connectedComponents(edges, localSolveMaxEdges = 0L))
    // a barrier's jobs carry its call site; the loop's convergence checks
    // and their AQE stages are named by Spark itself
    val cut = jobs.filter(_._1 != null)
    assert(cut.size >= 3 && cut.exists(_._2.size > 1), jobs)
    for ((site, names) <- cut) {
      assert(site.startsWith("localCheckpoint at Graph.scala:"), jobs)
      assert(names.forall(_ == site), jobs)
    }
  }

  test("a call site the caller set beforehand is restored after the " +
    "barrier, and an unset one stays unset") {
    val sc = spark.sparkContext
    val df = spark.range(100).toDF("id")
    try {
      sc.setCallSite("the caller's own site")
      val jobs = jobsOf(Barrier(df))
      // the barrier's own jobs still name this file, not the preset site
      assert(jobs.nonEmpty && jobs.forall { case (site, names) =>
        site.startsWith("localCheckpoint at BarrierSpec.scala:") &&
          names.forall(_ == site)
      }, jobs)
      assert(sc.getLocalProperty(ShortForm) == "the caller's own site")
      assert(sc.getLocalProperty(LongForm) == null)
    } finally sc.clearCallSite()
    Barrier(df)
    assert(sc.getLocalProperty(ShortForm) == null)
    assert(sc.getLocalProperty(LongForm) == null)
  }
}
