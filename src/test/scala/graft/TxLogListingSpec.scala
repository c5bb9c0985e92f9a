package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.sources.TxLog

/** The local file system, counting `listStatus` and `getFileStatus`
  * calls per (call, path). Installed for the `file` scheme (with the
  * FileSystem cache off, so every `getFileSystem` builds one) only
  * inside [[ListingCounts.counting]]. */
class ListingCountingFileSystem extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    ListingCounts.record("listStatus", p)
    super.listStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    ListingCounts.record("getFileStatus", p)
    super.getFileStatus(p)
  }
}

object ListingCounts {
  private[graft] val counts = new ConcurrentHashMap[(String, String), AtomicInteger]()

  private[graft] def record(call: String, p: Path): Unit = {
    counts.computeIfAbsent((call, Path.getPathWithoutSchemeAndAuthority(p).toString),
      _ => new AtomicInteger()).incrementAndGet()
    ()
  }

  /** Run `body` with the counting file system installed, counts reset. */
  def counting(spark: org.apache.spark.sql.SparkSession)(body: => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[ListingCountingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    counts.clear()
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** `_log` listings of `table` while `body` runs. */
  def during(spark: org.apache.spark.sql.SparkSession, table: String)(
      body: => Unit): Int = {
    counting(spark)(body)
    Option(counts.get(("listStatus", new Path(table, "_log").toString))).fold(0)(_.get)
  }

  /** `listStatus`/`getFileStatus` calls under `table`'s `data/` while
    * `body` runs. */
  def dataCalls(spark: org.apache.spark.sql.SparkSession, table: String)(
      body: => Unit): Int = {
    counting(spark)(body)
    val data = new Path(table, "data").toString
    import scala.jdk.CollectionConverters._
    counts.asScala.collect {
      case ((_, p), n) if p == data || p.startsWith(data + "/") => n.get
    }.sum
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

  test("read of a new version lists _log once") {
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

  /** Spark jobs started while `body` runs: a listener counts job starts
    * between two sentinel jobs (listener events arrive in order, so once
    * the closing sentinel's start is seen, every earlier start was). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.sentinel"
    val seen = new AtomicInteger()
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("open") => opened.countDown()
          case Some("close") => closed.countDown()
          case _ => if (opened.getCount == 0 && closed.getCount > 0) seen.incrementAndGet()
        }
    }
    def sentinel(which: String, latch: CountDownLatch): Unit = {
      sc.setLocalProperty(key, which)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(latch.await(60, TimeUnit.SECONDS), s"sentinel $which never arrived")
    }
    sc.addSparkListener(listener)
    try {
      sentinel("open", opened)
      body
      sentinel("close", closed)
      seen.get
    } finally sc.removeSparkListener(listener)
  }

  /** A table of 40 files (above Spark's 32-path parallel-listing
    * threshold) plus one appended row, declared or not. */
  private def wide(name: String, declared: Boolean): String = {
    val t = java.nio.file.Files.createTempDirectory(s"graft-wide-$name")
      .toString + "/t"
    if (declared) TxLog.createTable(spark, t,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, s STRING"))
    TxLog.append(spark, t,
      spark.range(0, 400, 1, 40).selectExpr("id", "cast(id as string) as s"))
    assert(TxLog.snapshotFiles(spark, t).size == 40)
    TxLog.append(spark, t, Seq((400L, "400")).toDF("id", "s"))
    t
  }

  /** Construct `TxLog.read` of `t`'s latest version: (Spark jobs,
    * file-system calls under `data/`, the frame). */
  private def construct(t: String): (Int, Int, DataFrame) = {
    var df: DataFrame = null
    var calls = -1
    val jobs = jobsDuring {
      calls = ListingCounts.dataCalls(spark, t) { df = TxLog.read(spark, t) }
    }
    (jobs, calls, df)
  }

  Seq(false -> "undeclared", true -> "declared").foreach { case (declared, kind) =>
    test(s"constructing a read of a new version of a 40-file $kind table " +
      "launches no job and makes no file-system call under data/") {
      val t = wide(kind, declared)
      val (jobs, calls, df) = construct(t)
      assert(jobs == 0, s"read construction launched $jobs Spark jobs")
      assert(calls == 0, s"read construction made $calls file-system calls under data/")
      assert(df.count() == 401L)
    }

    test(s"constructing a MOR-delete-masked read of a 40-file $kind table, " +
      "across a checkpoint, launches no job and makes no file-system call under data/") {
      val t = wide(s"$kind-mor", declared)
      TxLog.deleteWhereMorExpr(spark, t, "id % 7 = 0")
      val (jobs, calls, df) = construct(t)
      assert(jobs == 0, s"masked read construction launched $jobs Spark jobs")
      assert(calls == 0,
        s"masked read construction made $calls file-system calls under data/")
      assert(df.count() == 401L - 58L)
      // sizes and sidecar records survive the checkpoint's fold
      while (TxLog.latestVersion(spark, t) < TxLog.checkpointEvery + 1)
        TxLog.append(spark, t, Seq((1000L, "x")).toDF("id", "s"))
      assert(TxLog.checkpointVersions(spark, t).nonEmpty)
      val (jobs2, calls2, df2) = construct(t)
      assert(jobs2 == 0 && calls2 == 0,
        s"after a checkpoint: $jobs2 jobs, $calls2 calls under data/")
      assert(df2.filter("id < 1000").count() == 401L - 58L)
    }
  }

  test("an undeclared read's schema and _metadata equal a plain parquet read's") {
    val t = java.nio.file.Files.createTempDirectory("graft-parity")
      .toString + "/t"
    val rows = spark.range(0, 50, 1, 3).selectExpr(
      "id",
      "cast(id * 1.25 as decimal(12, 2)) as amount",
      "timestamp_seconds(id * 86400) as ts",
      "array(id, id + 1) as xs",
      "named_struct('a', id, 'b', cast(id as string)) as st")
    assert(!rows.schema("xs").nullable && !rows.schema("st").nullable)
    TxLog.append(spark, t, rows)
    TxLog.append(spark, t, rows.filter("id < 5"))
    val paths = TxLog.snapshotFiles(spark, t).map(p => new Path(t, p).toString)
    val plain = spark.read.parquet(paths: _*)
    val ours = TxLog.read(spark, t)
    assert(ours.schema == plain.schema)
    import org.apache.spark.sql.functions.col
    def meta(df: DataFrame) = df.select(col("id") +: Seq("file_path", "file_name",
      "file_size", "file_modification_time", "row_index")
      .map(m => col(s"_metadata.$m")): _*).collect().map(_.toString).sorted.toSeq
    assert(meta(ours) == meta(plain))
    assert(ours.inputFiles.sorted.toSeq == plain.inputFiles.sorted.toSeq)
  }

  test("a log with no size records (an older build's) reads the same rows") {
    val t = grown("legacy")
    val copy = java.nio.file.Files.createTempDirectory("graft-legacy")
      .toString + "/t"
    val src = java.nio.file.Paths.get(t)
    var stripped = 0
    java.nio.file.Files.walk(src).forEach { p =>
      val to = java.nio.file.Paths.get(copy).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
      else if (p.getParent.getFileName.toString == "_log") {
        val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .linesIterator.toSeq
        val kept = lines.filterNot(_.contains("|_g_size|"))
        stripped += lines.size - kept.size
        java.nio.file.Files.write(to, kept.map(_ + "\n").mkString.getBytes("UTF-8"))
      } else java.nio.file.Files.copy(p, to)
    }
    assert(stripped > 0, "the table recorded no sizes to strip")
    def rows(table: String, asOf: Option[Long]) =
      TxLog.read(spark, table, asOf).collect().map(_.toString).sorted.toSeq
    // v8: undeclared and MOR-masked; latest: declared, masked, checkpointed
    Seq(Some(8L), None).foreach { v =>
      assert(rows(copy, v) == rows(t, v), s"at $v")
    }
  }
}
