package org.apache.spark.sql.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two Spark internals the traced pass needs, reachable only from inside
  * the org.apache.spark package: draining the listener bus (so every task and
  * query event of a span has arrived before the span is closed) and turning
  * a logical sub-plan back into a DataFrame (to count a join's key-matched
  * candidate pairs). */
object Internals {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
