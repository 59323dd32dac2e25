package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over a logical plan the engine builds itself — a DSv2
  * relation that is not registered in any catalog. `Dataset.ofRows` is
  * package-private to Spark; this object lives in Spark's package to
  * reach it. */
object GraftDatasets {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
