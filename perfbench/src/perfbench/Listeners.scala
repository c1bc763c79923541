package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-task execution figures, attributed to the span whose id the
  * submitting thread carried in [[Tracer.Key]] (-1 when none).
  */
final case class TaskRec(span: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    schedDelayMs: Long, shuffleReadB: Long, shuffleWriteB: Long,
    spillB: Long, outputB: Long)

final case class JobRec(span: Int, callSites: String, stages: Int)

/** Job, stage and task counts from the scheduler, kept until read.
  * Read only after [[org.apache.spark.PerfbenchBus.drain]]: the bus
  * delivers events asynchronously.
  */
final class ExecListener(key: String) extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  /** Stages actually run, by the span of the job that submitted them. */
  val submittedStages = mutable.ArrayBuffer.empty[Int]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(key))).map(_.toInt)
      .getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    // a stage is named after the call site that created it
    jobs += JobRec(span, e.stageInfos.map(_.name).mkString(";"),
      e.stageIds.size)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      submittedStages += stageSpan.getOrElse(e.stageInfo.stageId,
        spanOf(e.properties))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      tasks += TaskRec(stageSpan.getOrElse(e.stageId, -1),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, sched,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled,
        m.outputMetrics.bytesWritten)
    }
  }

  def clear(): Unit = synchronized {
    jobs.clear(); tasks.clear(); submittedStages.clear(); stageSpan.clear()
  }
}

final case class BatchRec(runId: String, durationMs: Long, inputRows: Long,
    stateRows: Long)

/** Micro-batch progress of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue)
        .getOrElse(0L)
      batches += BatchRec(p.runId.toString, dur, p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum)
    }
  def clear(): Unit = synchronized(batches.clear())
}
