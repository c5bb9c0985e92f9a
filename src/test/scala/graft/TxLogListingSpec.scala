package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import graft.sources.TxLog

/** The local file system, counting `listStatus` calls per directory.
  * Installed for the `file` scheme (with the FileSystem cache off, so
  * every `getFileSystem` builds one) only inside [[ListingCounts.during]]. */
class ListingCountingFileSystem extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    ListingCounts.counts.computeIfAbsent(
      Path.getPathWithoutSchemeAndAuthority(p).toString,
      _ => new AtomicInteger()).incrementAndGet()
    super.listStatus(p)
  }
}

object ListingCounts {
  private[graft] val counts = new ConcurrentHashMap[String, AtomicInteger]()

  /** `_log` listings of `table` while `body` runs. */
  def during(spark: org.apache.spark.sql.SparkSession, table: String)(
      body: => Unit): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[ListingCountingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    counts.clear()
    try {
      body
      Option(counts.get(new Path(table, "_log").toString)).fold(0)(_.get)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

class TxLogListingSpec extends SparkSpec {
  import spark.implicits._

  /** 13 commits: a checkpoint at v10, stats, a MOR delete and a schema. */
  private def grown(name: String): String = {
    val t = java.nio.file.Files.createTempDirectory(s"graft-list-$name")
      .toString + "/t"
    (0 until 8).foreach(i => TxLog.appendWithStats(spark, t,
      Seq((i.toLong, s"v$i")).toDF("id", "s"), "id"))
    TxLog.deleteWhereMorExpr(spark, t, "id = 3")
    TxLog.addColumn(spark, t, "n", org.apache.spark.sql.types.LongType)
    (0 until 3).foreach(i => TxLog.append(spark, t,
      Seq((100L + i, "x", i.toLong)).toDF("id", "s", "n")))
    assert(TxLog.checkpointVersions(spark, t) == Seq(10L))
    t
  }

  test("read of a version not yet in the plan cache lists _log once") {
    val t = grown("read")
    val latest = ListingCounts.during(spark, t) {
      assert(TxLog.read(spark, t).count() == 10L)
    }
    assert(latest == 1, s"latest read listed _log $latest times")
    val pinned = ListingCounts.during(spark, t) {
      assert(TxLog.read(spark, t, Some(11L)).count() == 9L)
    }
    assert(pinned == 1, s"pinned read listed _log $pinned times")
  }

  test("appendIdempotent lists _log once, for a new and for a replayed batch") {
    val t = grown("idem")
    def batch = Seq((300L, "z", 3L)).toDF("id", "s", "n")
    val fresh = ListingCounts.during(spark, t) {
      assert(TxLog.appendIdempotent(spark, t, batch, "app", 1L).contains(13L))
    }
    assert(fresh == 1, s"a new batch listed _log $fresh times")
    val replayed = ListingCounts.during(spark, t) {
      assert(TxLog.appendIdempotent(spark, t, batch, "app", 1L).isEmpty)
    }
    assert(replayed == 1, s"a replayed batch listed _log $replayed times")
    assert(TxLog.versions(spark, t).last == 13L)
  }

  test("DESCRIBE DETAIL lists _log once") {
    val t = grown("detail")
    var row: org.apache.spark.sql.Row = null
    val n = ListingCounts.during(spark, t) {
      row = spark.sql(s"DESCRIBE DETAIL graft.`$t`").head()
    }
    assert(n == 1, s"DESCRIBE DETAIL listed _log $n times")
    assert(row.getLong(1) == 12L && row.getLong(3) == 13L)
    assert(row.getLong(4) == TxLog.snapshotFiles(spark, t).size.toLong)
    assert(row.getLong(6) == 1L && row.getBoolean(7))
    assert(row.getLong(8) == 10L)
  }
}
