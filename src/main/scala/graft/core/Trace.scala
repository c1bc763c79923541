package graft.core

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The one way to attribute Spark work to a name.
  * `Trace(spark, key)(body)` runs `body` with the local property [[Key]]
  * set to `key` and returns, next to `body`'s result, the [[Record]] of
  * what Spark ran under that key: each job's `callSite.short` and stage
  * names, each stage that ran (wall time, task count, input and shuffle
  * bytes, summed executor deserialize and CPU time, every task's
  * duration, the longest task's GC and CPU time) and the codegen
  * compilations made while the trace was open.
  *
  * When the counts may be read: Spark's listener bus delivers events on
  * its own thread, so a listener's counts can lag the action that caused
  * them. The scheduler posts a job's task, stage and job end events
  * before it wakes the thread waiting on the job, so once `body` returns
  * every event of its jobs is queued. `apply` then drains the bus
  * (`Bridge.drain`) and only after that hands the record back: the
  * record is complete when `apply` returns, with no sleep and no
  * sentinel job.
  *
  * Why the key reaches AQE's threads: it is a local property, and Spark
  * copies the submitting thread's local properties into every job it
  * submits and into the threads that work on that thread's behalf:
  * AQE's query-stage pool (`SQLExecution.withThreadLocalCaptured`), the
  * broadcast and subquery pools, and threads `body` starts itself
  * (`Par.bg`). A job AQE submits from its pool therefore carries the
  * key, although its call site and stage names read
  * `CompletableFuture.java`.
  *
  * One listener serves every trace of a SparkContext; the first trace
  * installs it. It keeps records only for keys whose trace is open, so
  * untraced jobs, and jobs whose key names no open trace, leave nothing
  * behind. A key may be open in one trace at a time; traces with
  * different keys may run at once on different threads. Compilations
  * come from Spark's JVM-wide codegen counter, so work running beside
  * the trace counts in them too.
  */
object Trace {

  /** The local property naming the trace a thread's work belongs to. */
  val Key = "graft.trace"

  final case class Job(id: Int, callSite: Option[String],
      stageNames: Seq[String])

  /** One stage attempt that ran. `taskMs` holds every task's duration,
    * sorted; the GC and CPU times are the longest task's. */
  final case class Stage(id: Int, name: String, details: String,
      ms: Long, tasks: Int, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, deserializeMs: Long, cpuNs: Long,
      taskMs: Seq[Long], maxTaskGcMs: Long, maxTaskCpuMs: Long)

  final case class Record(jobs: Seq[Job], stages: Seq[Stage],
      compilations: Long) {
    def ++(o: Record): Record = Record(jobs ++ o.jobs, stages ++ o.stages,
      compilations + o.compilations)
    def tasks: Int = stages.map(_.tasks).sum
    def cpuSeconds: Double = stages.map(_.cpuNs).sum / 1e9
  }

  object Record {
    val empty: Record = Record(Nil, Nil, 0L)
  }

  /** Run `body` under `key` and return its result with what Spark ran
    * for it. If `body` throws, the trace closes and its record is
    * dropped. */
  def apply[A](spark: SparkSession, key: String)(body: => A): (A, Record) = {
    val sc = spark.sparkContext
    val l = listener(sc)
    val compiled0 = compilations
    l.open(key)
    try {
      val a = keyed(sc, key)(body)
      Bridge.drain(sc)
      (a, l.record(key, compilations - compiled0))
    } finally l.close(key)
  }

  /** Run `body` with [[Key]] set to `key` on this thread (and on the
    * threads Spark and `body` start for it), recording nothing unless a
    * trace of `key` is open. The outer key is back afterwards. */
  def keyed[A](sc: SparkContext, key: String)(body: => A): A = {
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, key)
    try body finally sc.setLocalProperty(Key, outer)
  }

  /** Open traces and the stages mapped to them on `sc`'s listener, if
    * one is installed: (0, 0) once every trace has closed. */
  private[core] def held(sc: SparkContext): (Int, Int) =
    Bridge.listenersOf[Listener](sc).headOption.fold((0, 0))(_.held)

  private def compilations: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The listener of `sc`, added on first use (check-then-add). */
  private def listener(sc: SparkContext): Listener = synchronized {
    Bridge.listenersOf[Listener](sc).headOption.getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      l
    }
  }

  /** Task figures of one running stage, kept until it completes. */
  private final class Tasks {
    val ms = mutable.ArrayBuffer.empty[Long]
    var maxMs = -1L
    var gcMs, cpuMs = 0L
  }

  private final class Open {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    val tasks = mutable.Map.empty[Int, Tasks]
  }

  /** Every callback runs on the bus thread; `open`, `record` and `close`
    * on traced threads, hence the one lock. */
  private final class Listener extends SparkListener {
    private val traces = mutable.Map.empty[String, Open]
    // a job names its stages when it starts; stage and task events carry
    // no properties, so they find their trace through this map
    private val stageKey = mutable.Map.empty[Int, String]

    def open(key: String): Unit = synchronized {
      require(!traces.contains(key), s"trace '$key' is already open")
      traces(key) = new Open
    }

    def record(key: String, compilations: Long): Record = synchronized {
      val o = traces(key)
      Record(o.jobs.toList, o.stages.toList, compilations)
    }

    def close(key: String): Unit = synchronized {
      traces.remove(key)
      stageKey.filterInPlace((_, k) => k != key)
    }

    def held: (Int, Int) = synchronized((traces.size, stageKey.size))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      for {
        p <- Option(e.properties)
        key <- Option(p.getProperty(Key))
        o <- traces.get(key)
      } {
        o.jobs += Job(e.jobId, Option(p.getProperty("callSite.short")),
          e.stageInfos.map(_.name))
        e.stageIds.foreach(stageKey.getOrElseUpdate(_, key))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (o <- stageKey.get(e.stageId).flatMap(traces.get)) {
        val t = o.tasks.getOrElseUpdate(e.stageId, new Tasks)
        val d = e.taskInfo.duration
        t.ms += d
        if (d > t.maxMs) {
          t.maxMs = d
          Option(e.taskMetrics).foreach { m =>
            t.gcMs = m.jvmGCTime
            t.cpuMs = m.executorCpuTime / 1000000L
          }
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        for (o <- stageKey.get(i.stageId).flatMap(traces.get)) {
          val t = o.tasks.remove(i.stageId).getOrElse(new Tasks)
          val m = i.taskMetrics
          o.stages += Stage(i.stageId, i.name, i.details,
            (for (a <- i.completionTime; b <- i.submissionTime)
              yield a - b).getOrElse(-1L),
            i.numTasks, m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.executorDeserializeTime,
            m.executorCpuTime, t.ms.sorted.toList, t.gcMs, t.cpuMs)
        }
      }
  }
}
