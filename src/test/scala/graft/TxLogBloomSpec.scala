package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In}
import graft.sources.TxLog
import graft.sources.TxLog.Layout

/** Log-native per-file bloom filters
  * ([[graft.sources.TxLog.Layout]]'s `bloom` /
  * `TxLog.read(...).where(col === v)`): point-equality skipping on
  * columns the layout is NOT clustered by. Contracts pinned:
  *  - NO FALSE NEGATIVES: every present value's file is kept, for every
  *    value (exhaustive sweep);
  *  - the skip actually skips: a needle spread modulo-N across files
  *    keeps ~1 of N where min/max stats would keep all N;
  *  - files without filters are conservatively kept (mixed appends);
  *  - equality reads ≡ full-scan filter truth, with MOR masks applied;
  *  - vacuum never reclaims a referenced sidecar, and DOES reclaim it
  *    once a compaction drops the last reference;
  *  - filters travel through a shallow clone;
  *  - string and long columns both probe correctly (type-cast hashing).
  */
class TxLogBloomSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def freshTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** 8 single-file appends, each holding keys ≡ r (mod 8): every file
    * spans the FULL key range (min/max useless), bloom prunes to ~1.
    * Schema declared up front so the merge fast path has a probe type. */
  private def bandedTable(prefix: String, n: Long = 400L): String = {
    val t = freshTable(prefix)
    val rows = (1L to n).map(i => (i, s"k$i", i % 97)).toDF("id", "sk", "v")
    TxLog.createTable(spark, t,
      org.apache.spark.sql.types.StructType(rows.schema.fields
        .map(_.copy(nullable = true))))
    (0 until 8).foreach { r =>
      TxLog.append(spark, t,
        rows.filter(col("id") % 8 === r).repartition(1), Layout(bloom = Some("sk")))
    }
    t
  }

  test("needle lookup prunes to ~1 file of 8; result equals filter truth") {
    val t = bandedTable("txbloom-prune")
    val (kept, total) = Skipping.kept(spark, t, Seq(EqualTo("sk", "k131")))
    assert(total == 8, s"fixture must land 8 files, got $total")
    assert(kept.size <= 2, s"bloom kept ${kept.size} of $total (fpp 1%)")
    val got = TxLog.read(spark, t).where(col("sk") === "k131")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((131L, "k131", 131L % 97)))
    // absent probe: every filter excludes it, zero files scanned
    val (keptAbsent, _) = Skipping.kept(spark, t, Seq(EqualTo("sk", "no-such-key")))
    assert(keptAbsent.size <= 1,
      s"absent probe kept ${keptAbsent.size} files")
    assert(TxLog.read(spark, t).where(col("sk") === "no-such-key").isEmpty)
  }

  test("no false negatives: exhaustive sweep keeps every present value's file") {
    val t = bandedTable("txbloom-nofn", n = 200L)
    val full = TxLog.read(spark, t).select("sk").as[String].collect()
    full.foreach { v =>
      val got = TxLog.read(spark, t).where(col("sk") === v).count()
      assert(got == 1L, s"bloom read lost present value $v")
    }
  }

  test("long-typed probes hash through the column type") {
    val t = bandedTable("txbloom-long")
    // re-bloom on the LONG column in a 9th append
    TxLog.append(spark, t,
      Seq((9001L, "extra", 7L)).toDF("id", "sk", "v"), Layout(bloom = Some("sk")))
    val got = TxLog.read(spark, t).where(col("id") === 131L) // id never bloomed
    assert(got.count() == 1L, "unbloomed column must fall back to full scan")
    // an Int probe against the Long column must cast, not hash as Int
    assert(TxLog.read(spark, t).where(col("id") === 131).count() == 1L,
      "int probe against long column must cast before hashing")
  }

  test("mixed appends: files without filters are conservatively kept") {
    val t = freshTable("txbloom-mixed")
    TxLog.append(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("id", "sk").repartition(1),
      Layout(bloom = Some("sk")))
    TxLog.append(spark, t, Seq((3L, "c")).toDF("id", "sk").repartition(1))
    val (kept, total) = Skipping.kept(spark, t, Seq(EqualTo("sk", "zzz")))
    assert(total == 2 && kept.size == 1,
      s"the unbloomed file must always be kept: kept ${kept.size} of $total")
    assert(TxLog.read(spark, t).where(col("sk") === "c").count() == 1L)
  }

  test("MOR deletes anti-apply on bloom-kept files") {
    val t = bandedTable("txbloom-dv")
    TxLog.deleteWhereMorExpr(spark, t, "sk = 'k131'")
    assert(TxLog.read(spark, t).where(col("sk") === "k131").isEmpty,
      "a MOR-deleted row must not resurrect through the bloom path")
    assert(TxLog.read(spark, t).where(col("sk") === "k132").count() == 1L)
  }

  test("vacuum protects referenced sidecars; reclaims them after compaction") {
    val t = bandedTable("txbloom-vac", n = 80L)
    // the filter BYTES are the contract (vacuum reclaims .parquet files;
    // empty dirs and _SUCCESS markers are inert)
    def bloomParquets(): Seq[java.io.File] =
      new java.io.File(t, "data").listFiles()
        .filter(f => f.isDirectory && f.getName.endsWith("-bloom"))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet")))
        .toSeq
    assert(bloomParquets().size == 8)
    TxLog.vacuum(spark, t, retainLast = 1, minFileAgeMs = 0L)
    assert(bloomParquets().size == 8,
      "vacuum reclaimed sidecars the head version still references")
    assert(TxLog.read(spark, t).where(col("sk") === "k17").count() == 1L)
    // compaction drops every input file (and with them the filters)
    TxLog.compact(spark, t)
    TxLog.vacuum(spark, t, retainLast = 1, minFileAgeMs = 0L)
    assert(bloomParquets().isEmpty,
      "unreferenced sidecars must be reclaimed with their files")
    // the compacted table has no filters: conservative full keep
    val (kept, total) = Skipping.kept(spark, t, Seq(EqualTo("sk", "k17")))
    assert(kept.size == total)
    assert(TxLog.read(spark, t).where(col("sk") === "k17").count() == 1L)
  }

  test("merge prunes its address scan through the key column's filters") {
    val t = bandedTable("txbloom-merge")
    // needle batch: one matched key (re-priced) + one fresh insert
    val batch = Seq((131L, "k131", 999L), (9999L, "k9999", 1L))
      .toDF("id", "sk", "v")
    TxLog.mergeMor(spark, t, batch, Seq("sk"))
    val rows = TxLog.read(spark, t)
    assert(rows.filter(col("sk") === "k131").select("v").as[Long].head()
      == 999L, "the pruned address scan must still supersede the match")
    assert(rows.filter(col("sk") === "k9999").count() == 1L)
    assert(rows.count() == 401L,
      "a false skip would append the matched key as a duplicate")
    // helper-level proof the needle set has ~1 candidate of the 8
    // 8 banded files + the merge's unbloomed image file(s): the probe
    // set must still skip MOST banded files (1 true hit; the 1%-fpp
    // filters admit a bounded false-positive sliver per probe)
    val (kept, total) = Skipping.kept(spark, t, Seq(In("sk", Array("k131", "k9999"))))
    assert(total >= 9 && kept.size <= total - 5,
      s"multi-probe prune kept ${kept.size} of $total")
  }

  test("narrower-typed batch keys probe as the stored type") {
    val t = freshTable("txbloom-cast")
    val rows = (1L to 100L).map(i => (i, i * 10)).toDF("id", "v")
    TxLog.createTable(spark, t,
      org.apache.spark.sql.types.StructType(rows.schema.fields
        .map(_.copy(nullable = true))))
    (0 until 4).foreach(r => TxLog.append(spark, t,
      rows.filter(col("id") % 4 === r).repartition(1), Layout(bloom = Some("id"))))
    // an INT-keyed batch against the LONG column: legal (upcast), and
    // the probe must hash as LONG — a raw-type hash would skip the
    // matching file and land the key twice
    val batch = Seq((7, 999)).toDF("id", "v")
    TxLog.mergeMor(spark, t, batch, Seq("id"))
    val got = TxLog.read(spark, t).filter(col("id") === 7L)
      .select("v").as[Long].collect().toSeq
    assert(got == Seq(999L),
      s"narrow-typed probe must still find its file: got rows $got")
    assert(TxLog.read(spark, t).count() == 100L)
  }

  test("a narrower batch's filter is probed as the type its file holds") {
    val t = freshTable("txbloom-narrow")
    TxLog.createTable(spark, t, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))))
    // an INT batch into the LONG column lands its file as written, and
    // its filter hashes the file's ints
    TxLog.append(spark, t, (1 to 50).map(i => (i, i.toLong)).toDF("id", "v").repartition(1),
      Layout(bloom = Some("id")))
    TxLog.append(spark, t, (51L to 100L).map(i => (i, i)).toDF("id", "v").repartition(1),
      Layout(bloom = Some("id")))
    assert(TxLog.read(spark, t).where(col("id") === 7L).count() == 1L,
      "a LONG probe must still find the value in the INT file")
    val (kept, total) = Skipping.kept(spark, t, Seq(EqualTo("id", 7L)))
    assert(total == 2 && kept.size == 1, s"kept ${kept.size} of $total")
    TxLog.mergeMor(spark, t, (1L to 1001L).map(i => (i, -i)).toDF("id", "v"), Seq("id"))
    assert(TxLog.read(spark, t).count() == 1001L,
      "a wide merge must find every key it supersedes")
  }

  test("rebloom restores needle skipping after a compaction drops filters") {
    val t = bandedTable("txbloom-rebloom", n = 160L)
    TxLog.compact(spark, t) // filters die with their input files
    val (keptBefore, totalBefore) = Skipping.kept(spark, t, Seq(EqualTo("sk", "k17")))
    assert(keptBefore.size == totalBefore,
      "compacted output must start unbloomed (conservative full keep)")
    val v = TxLog.rebloom(spark, t, "sk")
    assert(v == TxLog.latestVersion(spark, t))
    // incremental: nothing missing → commit-free no-op
    assert(TxLog.rebloom(spark, t, "sk") == v,
      "a rebloom with nothing missing must not commit")
    val (kept, total) = Skipping.kept(spark, t, Seq(EqualTo("sk", "no-such")))
    assert(kept.size < total, s"rebloomed filters must skip: $kept")
    assert(TxLog.read(spark, t).where(col("sk") === "k17").count() == 1L,
      "rebloomed probes must still find every present value")
    // the rebloom commit is row-invisible: the snapshot is unchanged
    assert(TxLog.read(spark, t).count() == 160L)
  }

  test("the streaming sink records filters per micro-batch") {
    val t = freshTable("txbloom-sink")
    val sink = TxLog.appendSink(t, Layout(bloom = Some("sk")))
    (0 until 4).foreach { b =>
      sink((1L to 25L).map(i => (b * 25L + i, s"k${b * 25 + i}"))
        .toDF("id", "sk").repartition(1), b.toLong)
    }
    sink(spark.emptyDataset[(Long, String)].toDF("id", "sk"), 4L) // no-op
    assert(TxLog.versions(spark, t).size == 4, "empty batches must not commit")
    val (kept, total) = Skipping.kept(spark, t, Seq(EqualTo("sk", "k60")))
    assert(total == 4 && kept.size <= 2,
      s"per-batch filters must prune the ingest history: ${kept.size}/$total")
    assert(TxLog.read(spark, t).where(col("sk") === "k60")
      .as[(Long, String)].head() == ((60L, "k60")))
  }

  test("filters travel through a shallow clone") {
    val base = java.nio.file.Files.createTempDirectory("txbloom-clone").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    val rows = (1L to 160L).map(i => (i, s"k$i")).toDF("id", "sk")
    (0 until 4).foreach(r => TxLog.append(spark, src,
      rows.filter(col("id") % 4 === r).repartition(1), Layout(bloom = Some("sk"))))
    TxLog.shallowClone(spark, src, dst)
    val (kept, total) = Skipping.kept(spark, dst, Seq(EqualTo("sk", "k57")))
    assert(total == 4 && kept.size <= 2,
      s"cloned filters must prune: kept ${kept.size} of $total")
    assert(TxLog.read(spark, dst).where(col("sk") === "k57")
      .as[(Long, String)].head() == ((57L, "k57")))
  }
}
