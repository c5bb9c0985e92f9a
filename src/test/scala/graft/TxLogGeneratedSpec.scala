package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types.{LongType, StructField, StructType, StringType}
import graft.sources.TxLog
import graft.sources.TxLog.Layout

/** Generated columns ([[graft.sources.TxLog.addGeneratedColumn]]):
  * declared before data, stored on write — absent columns computed,
  * present ones validated cell-for-cell, SET on them forbidden and the
  * update path recomputing, with every malformed declaration loud. */
class TxLogGeneratedSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def freshTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def declared(t: String): Unit =
    TxLog.createTable(spark, t, StructType(Seq(
      StructField("k", LongType), StructField("v", LongType))))

  test("declare → compute on absent, validate on present, loud on wrong") {
    val t = freshTable("txgen-life")
    declared(t)
    val ver = TxLog.addGeneratedColumn(spark, t, "v_bucket", LongType,
      "v div 10")
    assert(TxLog.generatedColumns(spark, t) == Map("v_bucket" -> "v div 10"))
    assert(TxLog.generatedColumns(spark, t, asOf = Some(ver - 1)).isEmpty)
    TxLog.append(spark, t, Seq((1L, 15L), (2L, 27L)).toDF("k", "v"))
    TxLog.append(spark, t, Seq((3L, 31L, 3L)).toDF("k", "v", "v_bucket"))
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, t, Seq((4L, 42L, 9L)).toDF("k", "v", "v_bucket"))
    }
    assert(e.getMessage.contains("v_bucket") &&
      e.getMessage.contains("GENERATED ALWAYS"))
    assert(TxLog.read(spark, t).orderBy("k")
      .as[(Long, Long, Long)].collect().toSeq ==
      Seq((1L, 15L, 1L), (2L, 27L, 2L), (3L, 31L, 3L)))
  }

  test("malformed declarations are loud; data-first tables refuse") {
    val t = freshTable("txgen-bad")
    declared(t)
    intercept[IllegalArgumentException](
      TxLog.addGeneratedColumn(spark, t, "g", LongType, "no_col + 1"))
    intercept[IllegalArgumentException](
      TxLog.addGeneratedColumn(spark, t, "g", LongType,
        "CAST(v AS STRING)")) // type cannot hold losslessly
    intercept[IllegalArgumentException](
      TxLog.addGeneratedColumn(spark, t, "g", LongType, "CAST(rand() AS BIGINT)"))
    intercept[IllegalArgumentException](
      TxLog.addGeneratedColumn(spark, t, "v", LongType, "k")) // exists
    TxLog.append(spark, t, Seq((1L, 2L)).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](
      TxLog.addGeneratedColumn(spark, t, "late", LongType, "v div 10"))
    assert(e.getMessage.contains("before the first append"))
    // no declared schema at all → loud with the createTable pointer
    val t2 = freshTable("txgen-undecl")
    TxLog.append(spark, t2, Seq((1L, 2L)).toDF("k", "v"))
    intercept[IllegalArgumentException](
      TxLog.addGeneratedColumn(spark, t2, "g", LongType, "v"))
  }

  test("update recomputes, SET on a generated column is forbidden") {
    val t = freshTable("txgen-upd")
    declared(t)
    TxLog.addGeneratedColumn(spark, t, "v_bucket", LongType, "v div 10")
    TxLog.append(spark, t, Seq((1L, 15L), (2L, 27L)).toDF("k", "v"))
    intercept[IllegalArgumentException] {
      TxLog.updateMorExpr(spark, t, "k = 1", Seq("v_bucket" -> "99"))
    }
    TxLog.updateMorExpr(spark, t, "k = 1", Seq("v" -> "95"))
    assert(TxLog.read(spark, t).orderBy("k")
      .as[(Long, Long, Long)].collect().toSeq ==
      Seq((1L, 95L, 9L), (2L, 27L, 2L)), "the derivation must recompute")
  }

  test("merge computes absent / rejects wrong; constraints see generated values") {
    val t = freshTable("txgen-merge")
    declared(t)
    TxLog.addGeneratedColumn(spark, t, "v_bucket", LongType, "v div 10")
    TxLog.addCheckConstraint(spark, t, "bucket-cap", "v_bucket < 100")
    TxLog.append(spark, t, Seq((1L, 15L)).toDF("k", "v"))
    TxLog.mergeMor(spark, t, Seq((1L, 44L), (2L, 51L)).toDF("k", "v"), Seq("k"))
    intercept[IllegalArgumentException] {
      TxLog.mergeMor(spark, t,
        Seq((2L, 60L, 0L)).toDF("k", "v", "v_bucket"), Seq("k"))
    }
    // the constraint fires on the COMPUTED value of an absent column
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, t, Seq((9L, 5000L)).toDF("k", "v"))
    }
    assert(e.getMessage.contains("bucket-cap"))
    assert(TxLog.read(spark, t).orderBy("k")
      .as[(Long, Long, Long)].collect().toSeq ==
      Seq((1L, 44L, 4L), (2L, 51L, 5L)))
  }

  test("partitioned append BY a generated column (the Delta date-bucket idiom, r16)") {
    val t = freshTable("txgen-part")
    declared(t)
    TxLog.addGeneratedColumn(spark, t, "v_bucket", LongType, "v div 10")
    // the batch never carries v_bucket; the write boundary derives it
    // and the partitioned layout records it per file
    TxLog.append(spark, t,
      Seq((1L, 15L), (2L, 27L), (3L, 12L)).toDF("k", "v"),
      Layout(partitionBy = Seq("v_bucket")))
    val rows = TxLog.read(spark, t).select("k", "v", "v_bucket")
      .as[(Long, Long, Long)].collect().toSet
    assert(rows == Set((1L, 15L, 1L), (2L, 27L, 2L), (3L, 12L, 1L)))
    // the recorded partition values prune from the log alone
    assert(TxLog.partitionValuesAt(spark, t, "v_bucket")
      .map(_._2).toSet == Set("1", "2"))
    // a Long literal on the Long partition column prunes by the value's
    // recorded string form
    val recorded = TxLog.partitionValuesAt(spark, t, "v_bucket")
    assert(TxLog.pruneForFilters(spark, t, Seq(EqualTo("v_bucket", 2L))).size == 1)
    assert(TxLog.pruneForFilters(spark, t, Seq(EqualTo("v_bucket", 1L))).toSet ==
      recorded.collect { case (f, "1") => f }.toSet)
    val pruned = TxLog.read(spark, t).where(col("v_bucket") === 1L)
    assert(pruned.select("k").as[Long].collect().toSet == Set(1L, 3L))
    // a wrong explicit derivation still rejects through this path
    intercept[IllegalArgumentException](TxLog.append(spark, t,
      Seq((4L, 10L, 99L)).toDF("k", "v", "v_bucket"),
      Layout(partitionBy = Seq("v_bucket"))))
    // a column that is neither in the batch nor derived stays loud
    intercept[IllegalArgumentException](TxLog.append(spark, t,
      Seq((4L, 10L)).toDF("k", "v"), Layout(partitionBy = Seq("nope"))))
  }

  test("SQL ADD COLUMN ... GENERATED ALWAYS AS; plain ADD COLUMN delegates") {
    val t = freshTable("txgen-sql")
    TxLog.createTable(spark, t, StructType(Seq(
      StructField("k", LongType), StructField("lang", StringType))))
    val v = spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMN lang_len BIGINT " +
      "GENERATED ALWAYS AS (length(lang))").head().getLong(0)
    assert(v == TxLog.latestVersion(spark, t))
    assert(TxLog.generatedColumns(spark, t) == Map("lang_len" -> "length(lang)"))
    spark.sql(s"INSERT INTO graft.`$t` (k, lang) VALUES (1, 'hello')")
    assert(TxLog.read(spark, t).select("k", "lang", "lang_len").head().toSeq ==
      Seq(1L, "hello", 5L))
  }
}
