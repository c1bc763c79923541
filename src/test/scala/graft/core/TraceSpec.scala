package graft.core

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec
import graft.operators.Graph

/** [[Trace]] attributes Spark work by its local-property key: jobs that
  * AQE submits from its own threads count under the key, a record is
  * complete as soon as the traced body returns, traces running at once
  * keep apart, and work no open trace names leaves nothing behind.
  */
class TraceSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** One job of two stages: `maps` map tasks, `reduces` reduce tasks. */
  private def shuffleJob(maps: Int, reduces: Int): Unit =
    sc.parallelize(1 to 100, maps).map(x => (x % 3, x))
      .reduceByKey(_ + _, reduces).collect()

  test("jobs that AQE submits from its pool threads are counted under " +
    "the key") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("u", "v")
    val (_, rec) = Trace(spark, "aqe")(
      Graph.connectedComponents(edges, localSolveMaxEdges = 0L))
    // AQE materializes each shuffle stage as its own job, submitted from
    // its query-stage pool: Spark names those stages after the pool's
    // entry point, not after any graft frame
    val pooled = rec.jobs.filter(_.stageNames.exists(
      _.contains("withThreadLocalCaptured")))
    assert(pooled.nonEmpty, rec.jobs)
    // and their stages' figures came with them
    assert(rec.stages.exists(_.name.contains("withThreadLocalCaptured")),
      rec.stages.map(_.name))
  }

  test("the counts are complete as soon as the traced body returns") {
    // a slow listener on the bus's shared queue holds back every event
    // behind it: the shuffle job below ends while its events still wait
    val slow = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Thread.sleep(1000)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    shuffleJob(7, 5) // warm, so the traced run ends inside the stall
    spark.listenerManager.register(slow)
    try {
      val (_, rec) = Trace(spark, "complete") {
        spark.range(10).collect()
        shuffleJob(7, 5)
      }
      val shuffle = rec.stages.filter(s => s.tasks == 7 || s.tasks == 5)
      assert(shuffle.map(_.tasks).sorted == Seq(5, 7), rec.stages)
      assert(shuffle.forall(s => s.taskMs.size == s.tasks), rec.stages)
    } finally spark.listenerManager.unregister(slow)
  }

  test("two traces running at once on Par.join2 threads do not mix") {
    val ((_, left), (_, right)) = Par.join2(
      Trace(spark, "left")((1 to 3).foreach(_ => shuffleJob(2, 3))),
      Trace(spark, "right")((1 to 4).foreach(_ => shuffleJob(4, 1))))
    assert(left.jobs.size == 3 && left.tasks == 15, left)
    assert(right.jobs.size == 4 && right.tasks == 20, right)
    assert(left.jobs.map(_.id).intersect(right.jobs.map(_.id)).isEmpty)
    assert(left.stages.map(_.id).intersect(right.stages.map(_.id)).isEmpty)
  }

  test("untraced jobs leave nothing behind") {
    Trace(spark, "first")(shuffleJob(2, 2))
    shuffleJob(3, 2)
    // a key no open trace names records nothing either
    Trace.keyed(sc, "nobody")(shuffleJob(3, 2))
    assert(sc.getLocalProperty(Trace.Key) == null)
    org.apache.spark.sql.graftbridge.Bridge.drain(sc)
    assert(Trace.held(sc) == ((0, 0)))
    val (_, rec) = Trace(spark, "nobody")(())
    assert(rec.jobs.isEmpty && rec.stages.isEmpty, rec)
  }
}
