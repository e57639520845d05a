package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal bridge into the `private[sql]` Dataset constructor so a
  * custom logical operator ([[graft.plans.AsOfJoinNode]]) can be turned
  * back into a user-facing DataFrame. This is the standard extension
  * technique for third-party operators (same trick Spark connector
  * libraries use), plus the session UUID that keys
  * [[graft.core.Artifacts]]; nothing else from the private surface is
  * touched.
  */
object Bridge {
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Test hook: materialize what a SparkSessionExtensions instance
    * would inject, without building a new session.
    */
  def plannerStrategies(spark: SparkSession,
      ext: org.apache.spark.sql.SparkSessionExtensions)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark.asInstanceOf[classic.SparkSession])

  def registerFunctions(spark: SparkSession,
      ext: org.apache.spark.sql.SparkSessionExtensions)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry = {
    val reg = spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry.clone()
    ext.registerFunctions(reg)
  }
}
