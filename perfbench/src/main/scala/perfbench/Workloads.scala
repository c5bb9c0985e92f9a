package perfbench

import java.io.File
import java.security.MessageDigest
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.{MatView, TextPipeline}
import graft.sources.TxLog
import Json._

/** One workload: a warm-up run after every session build, an optional
  * preparation outside the timed window, and a pass — the fixed unit of
  * work the closed loop repeats. Outputs go to `rec.observations`, which
  * the Python side checks against what the generator knows. */
trait Workload {
  def warmup(spark: SparkSession, setup: Int): Unit
  def prepare(spark: SparkSession, rec: Recorder): Unit = ()
  def pass(spark: SparkSession, rec: Recorder): Unit
  /** Layer facts of the last pass that are not timings (file counts...). */
  def passFacts(spark: SparkSession, rec: Recorder): Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, m: JsonNode, work: File): Workload = name match {
    case "mr_sql"         => new MrSql(m, work)
    case "lake_lifecycle" => new LakeLifecycle(m, work)
    case other            => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** The paper's pipeline: `wordCount` and `distinctSorted` over a text
  * corpus through `mr.MapReduce.run`. */
final class MrText(m: JsonNode) extends Workload {
  private def call(spark: SparkSession, c: JsonNode, rec: Recorder): Option[Seq[String]] = {
    val files = c.strs("files")
    c.str("fn") match {
      case "wordCount" =>
        rec.op("wordCount", "mr") {
          val df = rec.span("mr.plan", "mr")(TextPipeline.wordCount(spark, files))
          df.collect().toSeq.map(r => r.getString(0) + "\t" + r.getString(1))
        }
      case "distinctSorted" =>
        rec.op("distinctSorted", "mr") {
          val ds = rec.span("mr.plan", "mr")(
            TextPipeline.distinctSorted(spark, files, numPartitions = c.int("partitions")))
          ds.collect().toSeq
        }
    }
  }

  def warmup(spark: SparkSession, setup: Int): Unit = {
    val r = new Recorder(System.nanoTime())
    m.list("warmup").foreach(c => call(spark, c, r))
    require(r.failures.isEmpty, r.failures.mkString("; "))
  }

  def pass(spark: SparkSession, rec: Recorder): Unit =
    m.list("calls").zipWithIndex.foreach { case (c, i) =>
      call(spark, c, rec).foreach { rows =>
        rec.observations += Map("pass" -> rec.pass, "call" -> i,
          "rows" -> rows.size, "sha256" -> Workload.sha256(rows.iterator))
      }
    }
}

/** The relational core: the manifest's `q<N>_*` rows of
  * `SparkEntry.queries`, each materialized to a `noop` sink. */
final class SqlCore(m: JsonNode, work: File) extends Workload {
  private val dir = m.str("tables_dir")
  private val names = m.strs("queries")

  private def dropCachedState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def run(spark: SparkSession, name: String, dir: String, rec: Recorder): Unit = {
    rec.op(name, "operators") {
      val df = rec.span("operators.plan", "operators")(SparkEntry.queries(name)(spark, dir))
      rec.span("operators.exec", "operators")(
        df.write.format("noop").mode("overwrite").save())
    }
    dropCachedState(spark)
  }

  def warmup(spark: SparkSession, setup: Int): Unit = {
    val r = new Recorder(System.nanoTime())
    m.strs("warmup_queries").foreach(run(spark, _, m.str("warmup_tables_dir"), r))
    require(r.failures.isEmpty, r.failures.mkString("; "))
  }

  /** Outside the timed window: every row once, its result dumped for the
    * DuckDB comparison with its oracle SQL. Also fills the JIT and codegen
    * caches the timed passes would otherwise pay for on first use. */
  override def prepare(spark: SparkSession, rec: Recorder): Unit = {
    val out = new File(work, "sql_results")
    names.foreach { n =>
      val target = new File(out, n)
      rec.op(n, "operators")(
        SparkEntry.queries(n)(spark, dir).write.mode("overwrite")
          .parquet(target.getPath))
      dropCachedState(spark)
      rec.observations += Map("query" -> n, "dump" -> target.getPath,
        "oracle" -> SparkEntry.oracleSql.get(n).orNull)
    }
  }

  def pass(spark: SparkSession, rec: Recorder): Unit = names.foreach(run(spark, _, dir, rec))
}

/** The engine path with no TxLog in it: the MapReduce text jobs, then
  * the relational rows, in one pass. */
final class MrSql(m: JsonNode, work: File) extends Workload {
  private val mr = new MrText(m)
  private val sql = new SqlCore(m, work)

  def warmup(spark: SparkSession, setup: Int): Unit = {
    mr.warmup(spark, setup)
    sql.warmup(spark, setup)
  }

  override def prepare(spark: SparkSession, rec: Recorder): Unit = sql.prepare(spark, rec)

  def pass(spark: SparkSession, rec: Recorder): Unit = {
    mr.pass(spark, rec)
    sql.pass(spark, rec)
  }
}

/** A single writer/reader on a fresh TxLog table per pass: seeded appends,
  * each followed by a read of the latest version, with SQL reads, time
  * travel, MOR delete and merge, a SQL UPDATE and a materialized view
  * interleaved as the generator's step list says. */
final class LakeLifecycle(m: JsonNode, work: File) extends Workload {
  private val schema = m.str("schema")
  private val appId = "perfbench"

  private def batch(spark: SparkSession, s: JsonNode): DataFrame =
    spark.read.schema(schema).parquet(s.strs("files"): _*)

  private def aggregates(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("v")), lit(0L)),
      coalesce(sum(col("id")), lit(0L)), coalesce(sum(col("id") * col("v")), lit(0L)))
      .head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Runs `steps` against table `t` (view `mv`); returns nothing, records
    * what each step observed. */
  private def runSteps(spark: SparkSession, steps: Seq[JsonNode], t: String, mv: String,
                       rec: Recorder): Unit = {
    val versionAtStep = scala.collection.mutable.Map.empty[Int, Long]
    def observe(i: Int, what: String, v: Any): Unit =
      rec.observations += Map("pass" -> rec.pass, "step" -> i, "what" -> what, "value" -> v)
    steps.zipWithIndex.foreach { case (s, i) =>
      s.str("op") match {
        case "append" =>
          val df = batch(spark, s)
          rec.op("append", "txlog")(
            TxLog.appendIdempotent(spark, t, df, appId, s.long("batch")))
            .foreach { v =>
              v.foreach(versionAtStep(i) = _)
              observe(i, "committed", v.isDefined)
            }
        case "read" =>
          rec.op("read", "txlog") {
            val df = rec.span("txlog.read_construct", "txlog")(TxLog.read(spark, t))
            rec.span("txlog.read_exec", "txlog")(aggregates(df))
          }.foreach(observe(i, "aggregates", _))
        case "time_travel" =>
          val v = versionAtStep(s.int("at_step"))
          rec.op("time_travel", "txlog")(aggregates(TxLog.read(spark, t, Some(v))))
            .foreach(observe(i, "aggregates", _))
        case "sql_read" =>
          rec.op("sql_read", "catalog")(aggregates(spark.sql(s"SELECT * FROM graft.`$t`")))
            .foreach(observe(i, "aggregates", _))
        case "probe" =>
          // metadata accessors a read or an append depends on, each timed alone
          rec.span("txlog.versions", "txlog")(TxLog.versions(spark, t))
          rec.span("txlog.snapshot_files", "txlog")(TxLog.snapshotFiles(spark, t))
          rec.span("txlog.commit_metas", "txlog")(TxLog.commitMetas(spark, t))
          rec.span("txlog.last_committed_batch", "txlog")(TxLog.lastCommittedBatch(spark, t, appId))
        case "delete_mor" =>
          rec.op("delete_mor", "txlog")(
            TxLog.deleteWhereMor(spark, t, "id", s.long("lo"), s.long("hi")))
        case "merge_mor" =>
          val df = batch(spark, s)
          rec.op("merge_mor", "txlog")(TxLog.mergeMor(spark, t, df, Seq("id")))
        case "sql_update" =>
          rec.op("sql_update", "plans")(spark.sql(
            s"UPDATE graft.`$t` SET v = v + ${s.long("delta")} " +
              s"WHERE id % ${s.long("mod")} = ${s.long("rem")}"))
        case "mv_refresh" =>
          rec.op("mv_refresh", "matview")(MatView.refresh(spark, t, mv, Seq("k"), "v"))
            .foreach(observe(i, "mode", _))
        case "mv_read" =>
          rec.op("mv_read", "matview")(
            TxLog.read(spark, mv).select("k", "cnt", "total").collect().toSeq
              .map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2))))
            .foreach(rows => observe(i, "groups", rows.sortBy(_.head.toString)))
      }
    }
  }

  private def tableDir(kind: String, i: Int) = new File(work, s"lake/$kind$i")

  def warmup(spark: SparkSession, setup: Int): Unit = {
    val r = new Recorder(System.nanoTime())
    val d = tableDir("warmup", setup)
    runSteps(spark, m.list("warmup_steps"), new File(d, "t").getPath,
      new File(d, "mv").getPath, r)
    require(r.failures.isEmpty, r.failures.mkString("; "))
  }

  def pass(spark: SparkSession, rec: Recorder): Unit = {
    val d = tableDir("pass", rec.pass)
    runSteps(spark, m.list("steps"), new File(d, "t").getPath, new File(d, "mv").getPath, rec)
  }

  override def passFacts(spark: SparkSession, rec: Recorder): Map[String, Any] = {
    val t = new File(tableDir("pass", rec.pass), "t")
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val data = files(t).filterNot(_.getName.startsWith("."))
    Map(
      "log_files" -> files(new File(t, "_log")).count(f => !f.getName.startsWith(".")),
      "live_files" -> TxLog.snapshotFiles(spark, t.getPath).size,
      "table_bytes" -> data.map(_.length).sum)
  }
}
