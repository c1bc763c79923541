package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
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
    * every job `body` starts. The bus delivers events in order, so once
    * a sentinel job's end arrives every job `body` started has been seen.
    */
  private def jobsOf(body: => Unit): Seq[(String, Seq[String])] = {
    val sc = spark.sparkContext
    val group = s"barrier-spec-${System.nanoTime}"
    val sentinel = "barrier-spec-sentinel"
    val jobs = new ConcurrentLinkedQueue[(String, Seq[String])]
    @volatile var sentinelId = -1
    val sentinelDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == sentinel)
            sentinelId = e.jobId
          else jobs.add(e.properties.getProperty(ShortForm) ->
            e.stageInfos.map(_.name))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelId) sentinelDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "barrier")
      body
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelDone.await(60, TimeUnit.SECONDS), "sentinel never ended")
      jobs.asScala.toSeq
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

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
