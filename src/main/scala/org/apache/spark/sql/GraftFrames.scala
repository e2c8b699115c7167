package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Builds a DataFrame over a logical plan. `Dataset.ofRows` is private to
  * Spark's sql package, hence this package. */
object GraftFrames {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
