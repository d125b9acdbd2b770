package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.SparkStrategy

/** Minimal bridge into Spark's private surface, needed to expose a
  * custom LogicalPlan as a user-facing DataFrame, to inject a planner
  * strategy at runtime (graft.GraftExtensions.install) and to wait for
  * listener delivery (graft.tools.QTime's job counts). Kept to exactly these
  * three calls — everything else in the engine goes through public API.
  */
object GraftPlanBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** Idempotently add a planner strategy to an existing session: nothing
    * is added when its planner already has the strategy, from an extension
    * or an earlier call, so a session built with the extension does not
    * run it twice per plan node.
    */
  def addStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val session = spark.asInstanceOf[CSparkSession]
    if (!session.sessionState.planner.strategies.contains(strategy)) {
      val exp = session.experimental
      exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  /** Block until every posted listener event has been delivered. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
