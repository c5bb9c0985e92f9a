package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

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

  /** `HadoopFSUtils.shouldFilterOutPathName`: the names a file-source
    * listing hides (`_`/`.` prefixes, except the parquet summary files
    * and `_k=v` partition directories). [[graft.sources.Tables]] picks
    * its schema footer by the same rule. */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** `DataSourceStrategy.translateFilter`: a scan's data filter as the
    * `sources.Filter` a file source is handed (top-level columns only,
    * as parquet's own pushdown translates it), or None. */
  def translateFilter(e: Expression): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = false)

  /** `c IN values` as ONE hash-set expression: the values are external
    * (fields of collected rows) of type `from`, each converted once on
    * the driver to `c`'s type `to`. It is what the optimizer turns a
    * long literal IN list into, without an expression per value for the
    * analyzer and optimizer to walk. */
  def inSet(c: Column, values: Seq[Any], from: DataType, to: DataType): Column = {
    val tz = Option(SQLConf.get.sessionLocalTimeZone)
    val internal = values.map { v =>
      val l = Literal.create(v, from)
      if (from == to) l.value else Cast(l, to, tz).eval()
    }
    classic.ExpressionUtils.column(InSet(classic.ExpressionUtils.expression(c), internal.toSet))
  }
}
