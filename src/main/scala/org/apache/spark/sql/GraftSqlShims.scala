package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Bridges to `private[sql]`/`private[spark]` members (the same
  * package-shim pattern the public Delta and Iceberg connectors use). */
object GraftSqlShims {
  /** `classic.Dataset.ofRows`: a frame over an already-built plan. Used
    * by [[graft.plans.TxLogDml]] to run the MERGE source plan the
    * analyzer already resolved, and by [[graft.sources.TxLog]] to run
    * the scans it builds from its log. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `StructType.asNullable`: the nullability `DataSource` gives the data
    * schema of every file scan. */
  def asNullable(s: StructType): StructType = s.asNullable
}
