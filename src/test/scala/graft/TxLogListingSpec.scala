package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.sources.TxLog
import graft.sources.TxLog.Layout

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

/** The local file system, running an armed action once, right after a
  * `_log` listing of the armed table returns; the action's own listings
  * do not re-trigger it. Installed only inside [[ListingHook.armed]]. */
class ListingHookFileSystem extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    val listed = super.listStatus(p)
    ListingHook.fire(p)
    listed
  }
}

object ListingHook {
  private val pending = new AtomicReference[(String, () => Unit)]()

  private[graft] def fire(p: Path): Unit = {
    val armed = pending.get
    if (armed != null &&
      Path.getPathWithoutSchemeAndAuthority(p).toString == armed._1 &&
      pending.compareAndSet(armed, null)) armed._2()
  }

  /** Run `body` with `action` armed to run after the first `_log`
    * listing of `table`; true iff the action ran. */
  def armed(spark: org.apache.spark.sql.SparkSession, table: String)(
      action: => Unit)(body: => Unit): Boolean = {
    pending.set((new Path(table, "_log").toString, () => action))
    try {
      ListingCounts.withFileSystem(spark, classOf[ListingHookFileSystem])(body)
      pending.get == null
    } finally pending.set(null)
  }
}

object ListingCounts {
  private[graft] val counts = new ConcurrentHashMap[(String, String), AtomicInteger]()

  private[graft] def record(call: String, p: Path): Unit = {
    counts.computeIfAbsent((call, Path.getPathWithoutSchemeAndAuthority(p).toString),
      _ => new AtomicInteger()).incrementAndGet()
    ()
  }

  /** Run `body` with `fs` serving the `file` scheme (FileSystem cache
    * off, so every `getFileSystem` builds one). */
  def withFileSystem(spark: org.apache.spark.sql.SparkSession, fs: Class[_])(
      body: => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", fs.getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Run `body` with the counting file system installed, counts reset. */
  def counting(spark: org.apache.spark.sql.SparkSession)(body: => Unit): Unit = {
    counts.clear()
    withFileSystem(spark, classOf[ListingCountingFileSystem])(body)
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
    (0 until 8).foreach(i => TxLog.append(spark, t,
      Seq((i.toLong, s"v$i")).toDF("id", "s"), Layout(stats = Seq("id"))))
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

  /** Six commits: two partitioned by `lang`, two with a bloom filter on
    * `k`, all with stats on `id` and `s`; a MOR delete of id 5 binds a
    * deletion vector (v4); a plain append lands v5. */
  private def skippable(name: String): String = {
    val t = java.nio.file.Files.createTempDirectory(s"graft-skip-$name")
      .toString + "/t"
    def rows(lo: Long, lang: String) = (lo until lo + 10)
      .map(i => (i, s"s$i", lang, s"k$i")).toDF("id", "s", "lang", "k").repartition(1)
    TxLog.append(spark, t, rows(0, "de"),
      Layout(stats = Seq("id", "s"), partitionBy = Seq("lang")))
    TxLog.append(spark, t, rows(10, "en"),
      Layout(stats = Seq("id", "s"), partitionBy = Seq("lang")))
    TxLog.append(spark, t, rows(20, "de"),
      Layout(stats = Seq("id", "s"), bloom = Some("k")))
    TxLog.append(spark, t, rows(30, "en"),
      Layout(stats = Seq("id", "s"), bloom = Some("k")))
    TxLog.deleteWhereMor(spark, t, "id", 5L, 5L)
    TxLog.append(spark, t, rows(40, "fr"), Layout(stats = Seq("id", "s")))
    assert(TxLog.latestVersion(spark, t) == 5L)
    t
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  Seq(None -> "latest", Some(4L) -> "a pinned version").foreach { case (asOf, at) =>
    test(s"each skipping reader and the catalog's filtered scan list _log once at $at") {
      val t = skippable(at.split(' ').last)
      val all = TxLog.read(spark, t, asOf)
      def read = TxLog.read(spark, t, asOf)
      val readers: Seq[(String, () => Seq[Long], Seq[Long])] = Seq(
        ("read.where(id range)", () => ids(read.where(col("id").between(3L, 12L))),
          ids(all.filter(col("id").between(3L, 12L)))),
        ("read.where(two id ranges)", () => ids(read.where(
          col("id").between(3L, 32L) && col("id").between(8L, 40L))),
          ids(all.filter(col("id").between(8L, 32L)))),
        ("read.where(string range)", () => ids(read.where(col("s").between("s1", "s2"))),
          ids(all.filter(col("s").between("s1", "s2")))),
        ("read.where(bloomed equality)", () => ids(read.where(col("k") === "k25")),
          Seq(25L)),
        ("read.where(partition and range)", () => ids(read.where(
          col("lang") === "de" && col("id").between(0L, 25L))),
          ids(all.filter(col("lang") === "de" && col("id").between(0L, 25L)))),
        ("read.where(partition)", () => ids(read.where(col("lang") === "en")),
          ids(all.filter(col("lang") === "en"))),
        // Spark re-applies every filter above the pruned scan
        ("catalog buildScan(requiredColumns, filters)", {
          val query = spark.sql(s"SELECT id FROM graft.`$t`" +
            asOf.fold("")(v => s" VERSION AS OF $v") +
            " WHERE lang = 'de' AND id > 3 AND k IN ('k25', 'k7')")
          () => ids(query)
        }, ids(all.filter(col("lang") === "de" && col("id") > 3L &&
          col("k").isin("k25", "k7")))))
      readers.foreach { case (name, run, expected) =>
        assert(expected.nonEmpty, s"$name: the fixture must match rows")
        var got: Seq[Long] = Nil
        val n = ListingCounts.during(spark, t) { got = run() }
        assert(n == 1, s"$name listed _log $n times at $at")
        assert(got == expected, s"$name at $at")
      }
      assert(!ids(all).contains(5L), "the deletion vector must be bound")
    }
  }

  test("a bloom IN list of one and of three values launches the same jobs") {
    val t = skippable("in")
    TxLog.read(spark, t).createOrReplaceTempView("txlog_in_plain")
    def viaRead(vs: String*): (Int, Seq[Long]) = {
      var got: Seq[Long] = Nil
      val jobs = jobsDuring { got = ids(TxLog.read(spark, t).where(col("k").isin(vs: _*))) }
      (jobs, got)
    }
    def viaSql(table: String, in: String): (Int, Seq[Long]) = {
      var got: Seq[Long] = Nil
      val jobs = jobsDuring { got = ids(spark.sql(s"SELECT id FROM $table WHERE k IN ($in)")) }
      (jobs, got)
    }
    val (oneJobs, one) = viaRead("k25")
    val (threeJobs, three) = viaRead("k25", "k27", "k33")
    assert(one == Seq(25L) && three == Seq(25L, 27L, 33L))
    assert(oneJobs == threeJobs, s"IN of one value: $oneJobs jobs, of three: $threeJobs")
    Seq("'k25'", "'k25', 'k27', 'k33'").foreach { in =>
      val plain = ids(spark.sql(s"SELECT id FROM txlog_in_plain WHERE k IN ($in)"))
      assert(viaSql(s"graft.`$t`", in)._2 == plain, s"IN ($in)")
    }
    val (sqlOne, _) = viaSql(s"graft.`$t`", "'k25'")
    val (sqlThree, _) = viaSql(s"graft.`$t`", "'k25', 'k27', 'k33'")
    assert(sqlOne == sqlThree, s"catalog IN of one value: $sqlOne jobs, of three: $sqlThree")
  }

  test("a compact landing between a skipping read's prune and its scan " +
    "brings back no deleted row") {
    val t = java.nio.file.Files.createTempDirectory("graft-torn").toString + "/t"
    def rows(lo: Long) = (lo until lo + 10).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(1)
    (0L to 20L by 10L).foreach(lo => TxLog.append(spark, t, rows(lo),
      Layout(stats = Seq("id"))))
    // id 5's file is masked, then rewritten by the compaction
    TxLog.deleteWhereMor(spark, t, "id", 5L, 5L)
    val v = TxLog.latestVersion(spark, t)
    var read: DataFrame = null
    assert(ListingHook.armed(spark, t)(TxLog.compact(spark, t)) {
      read = TxLog.read(spark, t).where(col("id").between(0L, 29L))
    }, "the compaction must land inside the read")
    assert(TxLog.latestVersion(spark, t) == v + 1)
    val oneVersion = (0L until 30L).filterNot(_ == 5L)
    assert(ids(TxLog.read(spark, t, Some(v))) == oneVersion)
    assert(ids(TxLog.read(spark, t)) == oneVersion)
    assert(ids(read) == oneVersion)
    // the catalog: armed after analysis, before execution
    TxLog.append(spark, t, rows(30L), Layout(stats = Seq("id")))
    TxLog.deleteWhereMor(spark, t, "id", 35L, 35L)
    val w = TxLog.latestVersion(spark, t)
    val query = spark.sql(s"SELECT id FROM graft.`$t` WHERE id BETWEEN 0 AND 39")
    var got: Seq[Long] = Nil
    assert(ListingHook.armed(spark, t)(TxLog.compact(spark, t)) { got = ids(query) },
      "the compaction must land inside the catalog query")
    assert(TxLog.latestVersion(spark, t) == w + 1)
    val expected = (0L until 40L).filterNot(Set(5L, 35L))
    assert(ids(TxLog.read(spark, t, Some(w))) == expected)
    assert(ids(TxLog.read(spark, t)) == expected)
    assert(got == expected)
  }
}
