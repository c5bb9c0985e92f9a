package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sources.TxLog
import graft.sources.TxLog.Layout

/** SHALLOW CLONE ([[graft.sources.TxLog.shallowClone]]): a zero-copy
  * metadata-only fork. Contracts pinned here:
  *  - the clone reads identical to the source snapshot (MOR masks and
  *    declared schema included) while its own directory holds ZERO
  *    parquet bytes;
  *  - time-travel clones pin any readable source version;
  *  - the fork is independent both ways (writes to either side are
  *    invisible to the other);
  *  - write-boundary contracts travel: CHECK constraints still reject,
  *    identity mints continue past the fork high-water mark;
  *  - vacuum on the clone never touches source bytes, even after the
  *    clone compacts away every inherited reference;
  *  - clone-of-clone resolves (absolute paths pass through);
  *  - a clone onto an existing table is loud.
  */
class TxLogCloneSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def parquetFilesUnder(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".parquet")) out += p
    }
    out.toSeq
  }

  test("clone reads the source snapshot byte-for-byte with zero data copied") {
    val base = freshDir("txclone-read")
    val src = s"$base/src"; val dst = s"$base/dst"
    TxLog.append(spark, src,
      (1L to 100L).map(i => (i, s"r$i")).toDF("k", "s"))
    TxLog.deleteWhereMorExpr(spark, src, "k % 7 = 0") // dv must travel
    val v = TxLog.shallowClone(spark, src, dst)
    assert(v == 0L)
    val want = TxLog.read(spark, src).as[(Long, String)].collect().toSet
    val got = TxLog.read(spark, dst).as[(Long, String)].collect().toSet
    assert(got == want, "clone must read the source snapshot")
    assert(got.forall(_._1 % 7 != 0), "the MOR mask must travel with the fork")
    assert(parquetFilesUnder(dst).isEmpty,
      s"shallow clone must copy zero data bytes; found ${parquetFilesUnder(dst)}")
    // provenance is recorded
    val meta = TxLog.commitMetas(spark, dst)("clone-source")
    assert(meta.endsWith("@1"), s"clone-source must carry src@version: $meta")
  }

  test("VERSION AS OF pins an older snapshot; future/vacuumed versions loud") {
    val base = freshDir("txclone-asof")
    val src = s"$base/src"
    TxLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("k", "s")) // v0
    TxLog.append(spark, src, Seq((3L, "c")).toDF("k", "s"))            // v1
    val dst0 = s"$base/at0"
    TxLog.shallowClone(spark, src, dst0, Some(0L))
    assert(TxLog.read(spark, dst0).count() == 2,
      "clone at v0 must see only the first commit")
    val eFuture = intercept[IllegalArgumentException] {
      TxLog.shallowClone(spark, src, s"$base/at9", Some(9L))
    }
    assert(eFuture.getMessage.contains("future version"))
  }

  test("the fork is independent both ways") {
    val base = freshDir("txclone-indep")
    val src = s"$base/src"; val dst = s"$base/dst"
    TxLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    TxLog.shallowClone(spark, src, dst)
    TxLog.append(spark, dst, Seq((10L, "x")).toDF("k", "s"))
    TxLog.deleteWhereMorExpr(spark, src, "k = 1")
    assert(TxLog.read(spark, src).as[(Long, String)].collect().toSet ==
      Set((2L, "b")), "clone writes must be invisible to the source")
    assert(TxLog.read(spark, dst).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (10L, "x")),
      "source deletes after the fork must be invisible to the clone")
  }

  test("CHECK constraints and identity high-water travel with the fork") {
    val base = freshDir("txclone-meta")
    val src = s"$base/src"; val dst = s"$base/dst"
    TxLog.createTable(spark, src, StructType(Seq(
      StructField("k", LongType), StructField("s", StringType))))
    TxLog.addCheckConstraint(spark, src, "k_pos", "k > 0")
    TxLog.addIdentityColumn(spark, src, "row_id")
    TxLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    TxLog.shallowClone(spark, src, dst)
    assert(TxLog.checkConstraints(spark, dst) == Map("k_pos" -> "k > 0"))
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, dst, Seq((-5L, "bad")).toDF("k", "s"))
    }
    assert(e.getMessage.contains("k_pos"),
      s"cloned constraint must reject at the clone's write boundary: ${e.getMessage}")
    TxLog.append(spark, dst, Seq((3L, "c")).toDF("k", "s"))
    val ids = TxLog.read(spark, dst).select("row_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L),
      s"clone identity mints must continue past the fork high-water: $ids")
  }

  test("vacuum on the clone never touches source bytes") {
    val base = freshDir("txclone-vac")
    val src = s"$base/src"; val dst = s"$base/dst"
    TxLog.append(spark, src, (1L to 50L).map(i => (i, s"r$i")).toDF("k", "s"))
    val srcFilesBefore = parquetFilesUnder(src).toSet
    TxLog.shallowClone(spark, src, dst)
    // compact: the clone materializes its own copy and DROPS every
    // inherited reference — the aggressive vacuum that follows is the
    // hostile case for a path-resolution bug
    TxLog.compact(spark, dst)
    TxLog.vacuum(spark, dst, retainLast = 1, minFileAgeMs = 0L)
    assert(parquetFilesUnder(src).toSet == srcFilesBefore,
      "clone-side vacuum reclaimed source bytes")
    assert(TxLog.read(spark, dst).count() == 50,
      "clone must read its own compacted copy after vacuum")
    assert(TxLog.read(spark, src).count() == 50)
  }

  test("clone of a clone resolves to the original bytes") {
    val base = freshDir("txclone-chain")
    val src = s"$base/src"; val mid = s"$base/mid"; val leaf = s"$base/leaf"
    TxLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    TxLog.shallowClone(spark, src, mid)
    TxLog.shallowClone(spark, mid, leaf)
    assert(parquetFilesUnder(mid).isEmpty && parquetFilesUnder(leaf).isEmpty)
    assert(TxLog.read(spark, leaf).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("clone onto an existing table is loud") {
    val base = freshDir("txclone-exists")
    val src = s"$base/src"; val dst = s"$base/dst"
    TxLog.append(spark, src, Seq((1L, "a")).toDF("k", "s"))
    TxLog.append(spark, dst, Seq((2L, "b")).toDF("k", "s"))
    val e = intercept[IllegalArgumentException] {
      TxLog.shallowClone(spark, src, dst)
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("stats travel: the clone prunes files from its own log alone") {
    val base = freshDir("txclone-stats")
    val src = s"$base/src"; val dst = s"$base/dst"
    val rows = (1L to 90L).map(i => (i, s"r$i")).toDF("k", "s")
    (0 until 3).foreach { b =>
      TxLog.append(spark, src,
        rows.filter(col("k") > b * 30 && col("k") <= (b + 1) * 30)
          .repartition(1), Layout(stats = Seq("k")))
    }
    TxLog.shallowClone(spark, src, dst)
    val (kept, total) = Skipping.kept(spark, dst, Skipping.between("k", 65L, 99L))
    assert(total == 3 && kept.size == 1,
      s"cloned stats must prune: scanned ${kept.size} of $total")
    assert(TxLog.read(spark, dst).filter(col("k") > 65).count() == 25)
  }
}
