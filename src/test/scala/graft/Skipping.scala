package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
import graft.sources.TxLog

/** What the log's records keep for filters pushed to a TxLog scan, for
  * the skipping specs' file-count assertions. */
object Skipping {
  /** The live files of `t` at `asOf` that `filters` (on logical
    * columns) cannot rule out, and how many files are live. */
  def kept(spark: SparkSession, t: String, filters: Seq[Filter],
           asOf: Option[Long] = None): (Seq[String], Int) =
    (TxLog.pruneForFilters(spark, t, filters, asOf), TxLog.snapshotFiles(spark, t, asOf).size)

  /** The filters `c BETWEEN lo AND hi` pushes to a scan. */
  def between(c: String, lo: Any, hi: Any): Seq[Filter] =
    Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

  /** [[between]] for each of a conjunction of ranges. */
  def ranges(preds: Seq[(String, Any, Any)]): Seq[Filter] =
    preds.flatMap { case (c, lo, hi) => between(c, lo, hi) }
}
