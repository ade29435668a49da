package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** In-package bridge: build a DataFrame from a custom LogicalPlan or from
  * Catalyst rows. Dataset.ofRows and internalCreateDataFrame are
  * private[sql], so extension libraries expose them via a shim in this
  * package (the standard pattern across Spark extension
  * projects). This is the only file outside the graft namespace.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame over Catalyst rows of `schema` (internalCreateDataFrame is
    * private[sql]): sources that decode straight to InternalRow skip the
    * external-Row conversion.
    */
  def ofInternalRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
