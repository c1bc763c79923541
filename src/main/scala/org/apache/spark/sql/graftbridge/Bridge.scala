package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]`; the supported pattern for extension libraries that
  * ship custom Catalyst expressions is a shim inside the sql package
  * namespace. This is the only file outside `graft`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function on a live session (the runtime
    * counterpart of `SparkSessionExtensions.injectFunction`, usable
    * without rebuilding the session).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Wrap a custom LogicalPlan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]` in Spark 4).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Strategies an extensions object would inject at session build
    * (`buildPlannerStrategies` is `private[sql]`) — lets tests verify
    * the `spark.sql.extensions` entry point without a new session.
    */
  def plannerStrategies(
      exts: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    exts.buildPlannerStrategies(spark)

  /** Idempotently add a planner strategy to a live session (the
    * runtime counterpart of `injectPlannerStrategy`).
    */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      s: org.apache.spark.sql.execution.SparkStrategy): Unit =
    // synchronized: Verify/Bench build queries from multiple threads,
    // and the read-modify-write on extraStrategies would otherwise
    // race (a lost update could drop a concurrently-added strategy)
    synchronized {
      val exp = spark
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
      if (!exp.extraStrategies.contains(s))
        exp.extraStrategies = exp.extraStrategies :+ s
    }

  /** Block until the listener bus has delivered every event posted so
    * far (`listenerBus` is `private[spark]`). A listener's counts are
    * complete for the work that finished before the call only after
    * it returns; `graft.core.Trace` reads its records here.
    */
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The listeners of class `L` on `sc`'s bus — the check half of a
    * check-then-add install.
    */
  def listenersOf[L <: org.apache.spark.scheduler.SparkListenerInterface](
      sc: org.apache.spark.SparkContext)(
      implicit tag: scala.reflect.ClassTag[L]): Seq[L] =
    sc.listenerBus.findListenersByClass[L]().toSeq

  /** Idempotently add an optimizer rule to a live session (the
    * runtime counterpart of `injectOptimizerRule`; same concurrency
    * discipline as [[addStrategy]]).
    */
  def addOptimization(spark: org.apache.spark.sql.SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit =
    synchronized {
      val exp = spark
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
      if (!exp.extraOptimizations.contains(r))
        exp.extraOptimizations = exp.extraOptimizations :+ r
    }
}
