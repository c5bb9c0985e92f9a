package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import graft.sources.TxLog
import graft.sources.TxLog.Layout

/** Deletion vectors applied inside the scan: every masked read is
  * compared with a reference computed here the old way, each live file's
  * raw rows left-anti joined against the sidecar of its own bound
  * vector, read with `spark.read.parquet`. */
class TxLogDvMaskSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): String =
    Files.createTempDirectory(s"graft-dvmask-$name").toString + "/t"

  /** One 100-row file of ids `lo until lo + 100`, `id` stats recorded. */
  private def appendBlock(t: String, lo: Long): Long =
    TxLog.append(spark, t,
      (lo until lo + 100).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      Layout(stats = Seq("id")))

  private def render(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).toSeq.sorted

  /** The rows `TxLog.read` returns, column names dropped. */
  private def masked(t: String, asOf: Option[Long] = None): Seq[String] =
    render(TxLog.read(spark, t, asOf).collect())

  /** The reference: each live file's raw rows (file column order, names
    * dropped) minus the positions its own bound vector lists for it. */
  private def reference(t: String, asOf: Option[Long] = None): Seq[String] = {
    val dvs = TxLog.dvAt(spark, t, asOf)
    TxLog.snapshotFiles(spark, t, asOf).flatMap { f =>
      val raw = spark.read.parquet(new Path(t, f).toString)
        .withColumn("_r_file", col("_metadata.file_name"))
        .withColumn("_r_pos", col("_metadata.row_index"))
      val kept = dvs.get(f).fold(raw) { dir =>
        val dv = spark.read.parquet(new Path(t, dir).toString)
        raw.join(dv, raw("_r_file") === dv("file") && raw("_r_pos") === dv("pos"),
          "left_anti")
      }
      render(kept.drop("_r_file", "_r_pos").collect())
    }.sorted
  }

  private def sameAsReference(t: String, asOf: Option[Long] = None): Unit = {
    val (got, want) = (masked(t, asOf), reference(t, asOf))
    assert(got == want, s"at $asOf: ${got.diff(want).take(5)} / ${want.diff(got).take(5)}")
  }

  test("a file re-bound to a newer vector reads by its own vector while the old dir still lists it") {
    val t = freshTable("rebound")
    Seq(0L, 100L, 200L).foreach(appendBlock(t, _))
    TxLog.deleteWhereMorExpr(spark, t, "id % 10 = 0")
    val first = TxLog.dvAt(spark, t)
    TxLog.deleteWhereMor(spark, t, "id", 0L, 50L) // re-binds the first file only
    val second = TxLog.dvAt(spark, t)
    assert(second.values.toSet.size == 2 && second.values.toSet.contains(first.values.head))
    assert(masked(t).size == 300 - 30 - 45)
    sameAsReference(t)
    sameAsReference(t, Some(3L))
  }

  test("a restore that unbinds a masked file unmasks it, and re-binds another to its older vector") {
    val t = freshTable("restore")
    appendBlock(t, 0L) // v0: file A
    appendBlock(t, 100L) // v1: file B
    TxLog.deleteWhereMor(spark, t, "id", 0L, 9L) // v2: A → D1
    TxLog.deleteWhereMorExpr(spark, t, "id % 10 = 5") // v3: A, B → D2
    val v2Dvs = TxLog.dvAt(spark, t, Some(2L))
    TxLog.restore(spark, t, 2L) // v4: A → D1 again, B unbound; D2 lists both
    assert(TxLog.dvAt(spark, t) == v2Dvs)
    assert(masked(t).size == 190)
    sameAsReference(t)
    TxLog.deleteWhereMor(spark, t, "id", 100L, 104L) // v5: B → D3
    assert(masked(t).size == 185)
    sameAsReference(t)
  }

  test("a renamed column reads masked under its new name") {
    val t = freshTable("rename")
    appendBlock(t, 0L)
    appendBlock(t, 100L)
    TxLog.renameColumn(spark, t, "s", "txt")
    TxLog.deleteWhereMorExpr(spark, t, "txt LIKE 'r1%'")
    TxLog.append(spark, t, Seq((500L, "r500"), (501L, "q501")).toDF("id", "txt"))
    TxLog.updateMorExpr(spark, t, "id % 3 = 0", Seq("txt" -> "concat(txt, '!')"))
    assert(TxLog.read(spark, t).columns.toSeq == Seq("id", "txt"))
    assert(TxLog.read(spark, t).filter(col("txt").startsWith("r1")).count() == 0L)
    sameAsReference(t)
  }

  test("time travel reads each version before and after its vectors") {
    val t = freshTable("asof")
    appendBlock(t, 0L)
    appendBlock(t, 100L)
    TxLog.deleteWhereMorExpr(spark, t, "id % 4 = 0")
    appendBlock(t, 200L)
    TxLog.deleteWhereMorExpr(spark, t, "id % 4 = 1")
    val latest = TxLog.latestVersion(spark, t)
    (0L to latest).foreach(v => sameAsReference(t, Some(v)))
    assert(masked(t, Some(1L)).size == 200)
    assert(masked(t, Some(2L)).size == 150)
    assert(masked(t).size == 300 - 50 - 75)
  }

  test("a read after a checkpoint crossing applies the vectors the checkpoint folded") {
    val t = freshTable("checkpoint")
    appendBlock(t, 0L)
    appendBlock(t, 100L)
    TxLog.deleteWhereMorExpr(spark, t, "id % 7 = 0")
    while (TxLog.latestVersion(spark, t) < TxLog.checkpointEvery + 1)
      TxLog.append(spark, t, Seq((1000L + TxLog.latestVersion(spark, t), "x")).toDF("id", "s"))
    assert(TxLog.checkpointVersions(spark, t).nonEmpty)
    sameAsReference(t)
    TxLog.deleteWhereMorExpr(spark, t, "id % 7 = 1")
    sameAsReference(t)
    assert(TxLog.read(spark, t).filter("id < 200").count() == 200L - 29L - 29L)
  }

  test("a log without sidecar records reads its vectors by listing their dirs") {
    val t = freshTable("unrecorded")
    appendBlock(t, 0L)
    appendBlock(t, 100L)
    TxLog.deleteWhereMorExpr(spark, t, "id % 9 = 0")
    TxLog.deleteWhereMor(spark, t, "id", 100L, 120L)
    // a copy whose log drops the size records of the sidecar files, as a
    // build that did not record them wrote it
    val copy = freshTable("unrecorded-copy")
    val src = Paths.get(t)
    var stripped = 0
    Files.walk(src).forEach { p =>
      val to = Paths.get(copy).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else if (p.getParent.getFileName.toString == "_log") {
        val lines = new String(Files.readAllBytes(p), "UTF-8").linesIterator.toSeq
        val kept = lines.filterNot(l => l.contains("|_g_size|") && l.contains("-dv-"))
        stripped += lines.size - kept.size
        Files.write(to, kept.map(_ + "\n").mkString.getBytes("UTF-8"))
      } else Files.copy(p, to)
    }
    assert(stripped > 0, "the table recorded no sidecar files to strip")
    assert(masked(copy) == masked(t))
    sameAsReference(copy)
    assert(TxLog.countRows(spark, copy) == masked(t).size.toLong)
  }

  test("the change feed images exactly the newly masked rows; a delete that re-masks only masked rows has no row changes") {
    val t = freshTable("cdf")
    appendBlock(t, 0L)
    appendBlock(t, 100L)
    val v1 = TxLog.deleteWhereMor(spark, t, "id", 0L, 5L)
    val v2 = TxLog.deleteWhereMor(spark, t, "id", 3L, 12L) // 3–5 already masked
    def deleted(from: Long, to: Long): Seq[Long] =
      TxLog.readChangesCdf(spark, t, from, to).filter(col("_change_type") === "delete")
        .select("id").as[Long].collect().toSeq.sorted
    assert(deleted(v1 - 1, v1) == (0L to 5L))
    assert(deleted(v2 - 1, v2) == (6L to 12L))
    val v3 = TxLog.deleteWhereMor(spark, t, "id", 0L, 12L) // binds, masks nothing new
    assert(v3 == v2 + 1)
    val e = intercept[IllegalArgumentException](TxLog.readChangesCdf(spark, t, v2, v3))
    assert(e.getMessage.contains("no row changes"), e.getMessage)
  }

  test("a masked read's count runs the jobs of the same read before any vector, and two reads plan equal") {
    val t = freshTable("jobs")
    Seq(0L, 100L, 200L).foreach(appendBlock(t, _))
    val before = TxLog.latestVersion(spark, t)
    TxLog.deleteWhereMorExpr(spark, t, "id % 10 = 0")
    def jobs(asOf: Option[Long]): (Int, Long) = {
      var n = 0L
      val j = jobsDuring { n = TxLog.read(spark, t, asOf).count() }
      (j, n)
    }
    val (clean, nClean) = jobs(Some(before))
    val (maskedJobs, nMasked) = jobs(None)
    assert(nClean == 300L && nMasked == 270L)
    assert(maskedJobs == clean, s"a masked count ran $maskedJobs jobs, a clean one $clean")
    val (a, b) = (TxLog.read(spark, t), TxLog.read(spark, t))
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed),
      "two reads of one snapshot must plan equal")
  }

  test("a vector's sidecar is written sorted by (file, pos), one part file") {
    val t = freshTable("sorted")
    Seq(0L, 100L, 200L).foreach(appendBlock(t, _))
    TxLog.deleteWhereMorExpr(spark, t, "id % 7 = 3")
    TxLog.deleteWhereMorExpr(spark, t, "id % 5 = 1") // re-masks all three files
    val dir = TxLog.dvAt(spark, t).values.toSet
    assert(dir.size == 1)
    val parts = new java.io.File(new Path(t, dir.head).toString).listFiles()
      .map(_.getName).filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
    assert(parts.length == 1, parts.toSeq)
    val rows = spark.read.parquet(new Path(new Path(t, dir.head), parts.head).toString)
      .as[(String, Long)].collect().toSeq
    assert(rows.size == (0 until 300).count(i => i % 7 == 3 || i % 5 == 1),
      "the prior vector's positions ride along")
    assert(rows == rows.sorted, "sidecar rows must be in (file, pos) order")
    sameAsReference(t)
  }
}
