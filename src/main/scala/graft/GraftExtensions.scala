package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.FunctionBuilders

/** Engine extensions, installed with
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions` on a cluster.
  * Registers the engine's native expressions so they are callable from
  * both the Column API (`expr("simhash64(...)")`) and plain SQL, and
  * injects the [[graft.plans.BroadcastBoundedDims]] optimizer rule
  * (bounded dims broadcast even when the query author forgot the hint)
  * and the [[graft.plans.SmallSortOnePartition]] AQE runtime rule (a
  * global sort over a measured input that AQE would coalesce to one
  * partition sorts in a single partition, with no range-sampling job).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    FunctionBuilders.all.foreach { case (name, clazz, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        (children: Seq[Expression]) => builder(children)))
    }
    ext.injectOptimizerRule(_ => graft.plans.BroadcastBoundedDims)
    ext.injectRuntimeOptimizerRule(_ => graft.plans.SmallSortOnePartition)
    // transparent MV routing: a matching fresh aggregate over a source
    // table serves from its registered materialized view instead
    // (opt-in via spark.graft.mv.route; correct-first — stale or
    // non-matching shapes read the source untouched)
    ext.injectOptimizerRule(_ => graft.plans.RouteToMatView)
    // SQL UPDATE / MERGE INTO on TxLog tables → merge-on-read commits
    // (post-hoc: runs after the target/source resolve, before the
    // analyzer's row-level-operation support check would reject them)
    ext.injectPostHocResolutionRule(_ => graft.plans.TxLogDml)
    // maintenance + MV DDL statements Spark's grammar lacks (OPTIMIZE /
    // VACUUM / DESCRIBE HISTORY / CREATE|REFRESH MATERIALIZED VIEW) —
    // a delegating parser, everything else passes through untouched
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
  }
}
