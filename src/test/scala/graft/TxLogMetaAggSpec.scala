package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog
import graft.sources.TxLog.Layout

/** Metadata-only aggregates ([[graft.sources.TxLog.countRows]] /
  * [[graft.sources.TxLog.minMaxSkipping]]): COUNT(*) is a log fold
  * (zero footer opens on engine-written tables, dv sidecar counts
  * subtracted per-binding), MIN/MAX serve log bounds for clean files
  * and scan only what a mask touches. */
class TxLogMetaAggSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("count is a pure log fold across append/delete/compact/overwrite") {
    val t = freshTable("txmeta-count")
    val rows = (1L to 300L).map(i => (i, s"r$i")).toDF("k", "s")
    (0 until 3).foreach(r =>
      TxLog.append(spark, t, rows.filter(col("k") % 3 === r)))
    def check(tag: String): Unit = {
      val truth = TxLog.read(spark, t).count()
      var detail = (0L, 0, 0)
      val jobs = jobsDuring { detail = TxLog.countRowsDetail(spark, t) }
      assert(jobs == 0, s"$tag: a log count ran $jobs Spark jobs")
      val (n, fromFooter, _) = detail
      assert(n == truth, s"$tag: log count $n != scan truth $truth")
      assert(fromFooter == 0,
        s"$tag: engine-written files must be counted from the log alone")
    }
    check("appends")
    TxLog.deleteWhereMorExpr(spark, t, "k % 7 = 0") // dv mask subtracts
    check("after MOR delete")
    TxLog.deleteWhereMorExpr(spark, t, "k % 7 = 1") // re-mask widens
    check("after second MOR delete")
    TxLog.compact(spark, t) // masks materialize, fresh counts recorded
    check("after compact")
    TxLog.overwrite(spark, t, rows.filter(col("k") <= 42L))
    check("after overwrite")
    assert(TxLog.countRows(spark, t) == 42L)
  }

  test("time travel counts each pinned version") {
    val t = freshTable("txmeta-asof")
    TxLog.append(spark, t, (1L to 10L).map(i => (i, "a")).toDF("k", "s"))
    TxLog.append(spark, t, (11L to 25L).map(i => (i, "b")).toDF("k", "s"))
    TxLog.deleteWhereMorExpr(spark, t, "k <= 5")
    assert(TxLog.countRows(spark, t, Some(0L)) == 10L)
    assert(TxLog.countRows(spark, t, Some(1L)) == 25L)
    assert(TxLog.countRows(spark, t, Some(2L)) == 20L)
  }

  test("min/max scans only the masked remainder") {
    val t = freshTable("txmeta-minmax")
    val rows = (1L to 90L).map(i => (i, i % 9)).toDF("k", "band")
    // three stats-covered files split by k range
    (0 until 3).foreach(b => TxLog.append(spark, t,
      rows.filter(col("k") > b * 30 && col("k") <= (b + 1) * 30)
        .repartition(1), Layout(stats = Seq("k"))))
    val (lo0, hi0, scanned0) = TxLog.minMaxSkipping(spark, t, "k")
    assert((lo0, hi0) == ((1L, 90L)))
    assert(scanned0 == 0, "clean covered files must serve from the log")
    // mask ONE file — including its recorded max (k=30): the bound is
    // now a lie for that file and only a scan of it can answer
    TxLog.deleteWhereMorExpr(spark, t, "k = 30 OR k = 1")
    val (lo1, hi1, scanned1) = TxLog.minMaxSkipping(spark, t, "k")
    assert((lo1, hi1) == ((2L, 90L)),
      s"masked extremes must fall out of the aggregate: got ($lo1, $hi1)")
    assert(scanned1 == 1, s"only the masked file may be scanned: $scanned1")
    // a file with no recorded stats is dirty too (conservative scan)
    TxLog.append(spark, t, Seq((200L, 0L)).toDF("k", "band"))
    val (_, hi2, scanned2) = TxLog.minMaxSkipping(spark, t, "k")
    assert(hi2 == 200L && scanned2 == 2)
  }

  test("count survives a shallow clone (lines travel)") {
    val base = java.nio.file.Files.createTempDirectory("txmeta-clone").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    TxLog.append(spark, src, (1L to 50L).map(i => (i, "x")).toDF("k", "s"))
    TxLog.deleteWhereMorExpr(spark, src, "k > 40")
    TxLog.shallowClone(spark, src, dst)
    val (n, fromFooter, maskedFiles) = TxLog.countRowsDetail(spark, dst)
    assert(n == 40L)
    assert(fromFooter == 0, "cloned counts must serve from the clone's log")
    assert(maskedFiles >= 1, "the cloned mask must subtract")
  }
}
