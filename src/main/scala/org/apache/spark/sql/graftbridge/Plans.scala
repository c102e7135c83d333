package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Plan-level entry points Spark 4 keeps `private[sql]`: a DataFrame over
  * a logical plan the engine built itself (a leaf operator of its own),
  * the schema merge `mergeSchema` applies across Parquet footers, and a
  * predicate as the data-source filter a file scan pushes.
  */
object Plans {
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def mergeSchemas(a: StructType, b: StructType): StructType = a.merge(b)

  def sourceFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)
}
