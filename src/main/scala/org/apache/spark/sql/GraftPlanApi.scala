package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/**
 * The one `private[sql]` doorway for turning a hand-built logical plan
 * into a DataFrame. Spark exposes injection points for strategies/rules
 * (`SparkSessionExtensions`, `spark.experimental.extraStrategies`) but
 * no public constructor from `LogicalPlan`, so every extension that
 * ships its own plan node keeps a shim like this in the
 * `org.apache.spark.sql` package. It has two users: the custom plan
 * nodes (`AsOfJoinPlan`), and `graft.ops.Pin`, which wraps the
 * UnsafeRows it collected in a `LocalRelation` without converting them
 * to external rows and back. Nothing else may go through here.
 */
object GraftPlanApi {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
