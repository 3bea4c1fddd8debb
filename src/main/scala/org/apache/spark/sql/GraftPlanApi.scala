package org.apache.spark.sql

import org.apache.spark.SparkConf
import org.apache.spark.io.CompressionCodec
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/**
 * The one `private[sql]` doorway for turning a hand-built logical plan
 * into a DataFrame. Spark exposes injection points for strategies/rules
 * (`SparkSessionExtensions`, `spark.experimental.extraStrategies`) but
 * no public constructor from `LogicalPlan`, so every extension that
 * ships its own plan node keeps a shim like this in the
 * `org.apache.spark.sql` package. It has four users: the custom plan
 * nodes (`AsOfJoinPlan`); `graft.ops.Pin`, which wraps the UnsafeRows
 * it collected in a `LocalRelation` without converting them to
 * external rows and back; `graft.ops.Superstep`'s driver executor,
 * which returns its vertex states the same way; and Pin's spill, which
 * writes the RDD its collect job already ran ([[ofRdd]], the
 * `Dataset.checkpoint` pattern) so that the producer's shuffle map
 * stages are not run again. Pin also compresses its collect payload with the session's io
 * codec through here, as Spark's own collect does. Nothing else may go
 * through here.
 */
object GraftPlanApi {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s rows as the already-executed `rdd` of its own plan. */
  def ofRdd(df: DataFrame, rdd: RDD[InternalRow]): DataFrame =
    ofRows(df.sparkSession, LogicalRDD.fromDataset(rdd,
      df.asInstanceOf[classic.Dataset[_]], isStreaming = false))

  /** The io codec Spark's own collect compresses task results with. */
  def ioCodec(conf: SparkConf): CompressionCodec = CompressionCodec.createCodec(conf)
}
