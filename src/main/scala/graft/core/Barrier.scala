package graft.core

import org.apache.spark.sql.Dataset

/** The one stage barrier: every place the engine cuts lineage to make
  * a reused intermediate result stable goes through `Barrier(ds)`.
  *
  * A barrier materializes `ds` eagerly and returns a Dataset over the
  * materialized blocks, so every consumer (both sides of a self-join,
  * the totals pass and the scoring pass, the next round of a loop)
  * reads those blocks instead of re-running the upstream plan, and the
  * analyzed plan of an iterative loop stays flat however many rounds
  * it runs.
  *
  * The policy lives here and nowhere else:
  *   - under a local master (`sc.isLocal`) it is `localCheckpoint()`:
  *     the blocks sit in the one executor's block manager, which lives
  *     as long as the driver does;
  *   - under any other master it is reliable `checkpoint()`: the
  *     blocks are written under Spark's checkpoint dir, so losing the
  *     executor that computed them loses nothing. `localCheckpoint`
  *     there would keep them only on that executor, and the next job
  *     to read them after it dies fails with
  *     `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`. Without a checkpoint dir,
  *     Spark refuses the barrier at once. A cluster deployment sets
  *     `spark.checkpoint.dir` and, so the files go with their plans,
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
  *
  * A checkpoint, not `cache()`: CacheManager entries outlive the query
  * and pile up across a shared session, and `unpersist` goes through
  * the CacheManager, which has no entry for a checkpointed plan.
  * Checkpoint blocks are freed by the ContextCleaner once their RDD is
  * garbage-collected, so a superseded loop round or a finished query
  * needs no cleanup.
  *
  * The barrier's jobs keep their caller's call site: for the duration
  * of the cut, the thread's short and long call site name the first
  * stack frame outside this object (so a stage reads
  * `localCheckpoint at Graph.scala:<line>`, as a direct call would), and
  * the values the caller had are put back afterwards. AQE submits the
  * shuffle stages of the barrier's plan from its own threads with the
  * caller's local properties, so those stages carry the same name.
  */
object Barrier {

  // Spark's own local-property keys for a thread's call site
  // (`org.apache.spark.util.CallSite.SHORT_FORM` / `LONG_FORM`)
  private val ShortForm = "callSite.short"
  private val LongForm = "callSite.long"

  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    val op = if (sc.isLocal) "localCheckpoint" else "checkpoint"
    val self = getClass.getName
    val (own, caller) = Thread.currentThread.getStackTrace.toSeq
      .dropWhile(!_.getClassName.startsWith(self))
      .span(_.getClassName.startsWith(self))
    val prev = (sc.getLocalProperty(ShortForm), sc.getLocalProperty(LongForm))
    // Spark's own layout: "<method> at <file>:<line>", and a long form
    // of at most 20 frames led by the outermost frame it skipped
    sc.setLocalProperty(ShortForm,
      s"$op at ${caller.head.getFileName}:${caller.head.getLineNumber}")
    sc.setLocalProperty(LongForm,
      (own.takeRight(1) ++ caller).take(20).mkString("\n"))
    try if (sc.isLocal) ds.localCheckpoint() else ds.checkpoint()
    finally {
      sc.setLocalProperty(ShortForm, prev._1)
      sc.setLocalProperty(LongForm, prev._2)
    }
  }
}
