package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.LongType
import graft.sources.TxLog
import graft.sources.TxLog.Layout

/** File skipping inside the scan: a TxLog scan's file index keeps only
  * the files the log's records admit for the filters Spark pushes to
  * it, so a library `read(...).where(...)` and a catalog SQL query both
  * read only the kept files, and return the rows a full scan returns. */
class TxLogScanSkipSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String =
    Files.createTempDirectory(s"graft-scanskip-$name").toString + "/t"

  /** `df`'s rows, sorted by their string form. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The rows of a full scan of `t` (no filter reaches its file index)
    * that satisfy the SQL predicate `pred`. */
  private def fullScan(t: String, pred: String): Seq[String] = {
    val all = TxLog.read(spark, t)
    rows(spark.createDataFrame(java.util.Arrays.asList(all.collect(): _*), all.schema)
      .where(expr(pred)))
  }

  /** The file scans of `df`'s executed plan, stages included. */
  private def fileScans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
  }

  test("catalog SQL pushes range, equality, IN, LIKE and partition filters; scans only the kept files") {
    val t = fresh("sql")
    // four one-file appends: disjoint id ranges and string prefixes,
    // stats on both, each file's partition value recorded
    Seq((0L, "a", "de"), (10L, "b", "en"), (20L, "c", "de"), (30L, "d", "fr")).foreach {
      case (lo, p, lang) => TxLog.append(spark, t,
        (lo until lo + 10).map(i => (i, s"$p$i", lang)).toDF("id", "s", "lang").repartition(1),
        Layout(stats = Seq("id", "s"), partitionBy = Seq("lang")))
    }
    assert(TxLog.snapshotFiles(spark, t).size == 4)
    Seq(
      "id BETWEEN 12 AND 25" -> 2,
      "id = 15" -> 1,
      "s IN ('a3', 'd37')" -> 2,
      "s LIKE 'c%'" -> 1,
      "lang = 'de'" -> 2
    ).foreach { case (pred, kept) =>
      val q = spark.sql(s"SELECT * FROM graft.`$t` WHERE $pred")
      val plan = q.queryExecution.executedPlan.toString
      assert("PushedFilters: \\[[^\\]]+\\]".r.findFirstIn(plan).nonEmpty,
        s"$pred: the scan must be handed the filters:\n$plan")
      assert(scannedFiles(q) == kept, s"$pred: scanned ${scannedFiles(q)} files, kept $kept")
      val expected = fullScan(t, pred)
      assert(expected.nonEmpty, s"$pred: the fixture must match rows")
      assert(rows(q) == expected, pred)
    }
  }

  test("a library read's filter reaches every file scan through logicalize, the masked/clean union and the mask") {
    val t = fresh("dv-rename")
    (0L to 20L by 10L).foreach(lo => TxLog.append(spark, t,
      (lo until lo + 10).map(i => (i, s"v$i")).toDF("id", "s").repartition(1),
      Layout(stats = Seq("id"))))
    TxLog.deleteWhereMor(spark, t, "id", 12L, 12L) // the middle file is masked
    TxLog.renameColumn(spark, t, "id", "key") // "key" reads physical "id"
    val q = TxLog.read(spark, t).where(col("key").between(10L, 25L))
    val scans = fileScans(q)
    assert(scans.size == 2, s"one masked and one clean scan: ${scans.mkString("\n")}")
    scans.foreach { s =>
      assert(s.dataFilters.exists(_.references.exists(_.name == "id")),
        s"the key filter must reach the scan under its physical name: ${s.dataFilters}")
    }
    // the first file (ids 0-9) is skipped; the masked and the clean file are read
    assert(scannedFiles(q) == 2)
    assert(rows(q) == fullScan(t, "key BETWEEN 10 AND 25"))
    assert(!q.select("key").as[Long].collect().contains(12L))
  }

  test("index filters match recorded stats by physical name across a rename and a re-added name") {
    val t = fresh("physical")
    (0L to 20L by 10L).foreach(lo => TxLog.append(spark, t,
      (lo until lo + 10).map(i => (i, s"v$i")).toDF("id", "s").repartition(1),
      Layout(stats = Seq("id"))))
    TxLog.renameColumn(spark, t, "id", "key")
    // a new "id" gets a fresh physical name; the fourth file records
    // stats for both columns, its "id" values far from its "key" values
    TxLog.addColumn(spark, t, "id", LongType)
    TxLog.append(spark, t, Seq((12L, "w12", 100L), (13L, "w13", 101L))
      .toDF("key", "s", "id").repartition(1), Layout(stats = Seq("key", "id")))
    val q = TxLog.read(spark, t).where(col("key").between(10L, 15L))
    // the ids 10-19 file and the fourth file hold matches; the others skip
    assert(scannedFiles(q) == 2)
    assert(rows(q) == fullScan(t, "key BETWEEN 10 AND 15"))
    assert(q.count() == 8L)
    // the new "id" prunes by its own records: only the fourth file has
    // any, and they rule it out; the older files record none and are kept
    val byNewId = TxLog.read(spark, t).where(col("id") === 5L)
    assert(scannedFiles(byNewId) == 3)
    assert(byNewId.isEmpty && fullScan(t, "id = 5").isEmpty)
  }

  test("filters on columns with no recorded rung prune nothing and launch no job") {
    val t = fresh("norung")
    (0L to 20L by 10L).foreach(lo => TxLog.append(spark, t,
      (lo until lo + 10).map(i => (i, s"v$i")).toDF("id", "s").repartition(1)))
    val q = TxLog.read(spark, t).where(col("id").isin((0L until 1000L): _*))
    var scanned = 0
    assert(jobsDuring { scanned = scannedFiles(q) } == 0)
    assert(scanned == 3)
    assert(rows(q) == rows(TxLog.read(spark, t)))
  }
}
