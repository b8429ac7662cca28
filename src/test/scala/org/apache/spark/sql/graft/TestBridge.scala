package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-only bridge to engine-internal calls. `ofRows` materializes a
  * DataFrame from a logical sub-plan (`Dataset.ofRows` is
  * `private[sql]` in Spark 4): PlanSpec's window-cardinality guard
  * measures the partition-key cardinality of a Window node's CHILD,
  * which has no public handle. `drainListenerBus` delivers every
  * pending listener event, so JobBudgetSpec's job counts are complete
  * when read. */
object TestBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
