package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over a logical plan the engine built itself. Spark 4
  * scopes `classic.Dataset.ofRows` private[sql]; this is its one-call
  * accessor (the plan is analyzed as any new Dataset's is).
  */
object DatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
