package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import graft.sources.TxLog
import graft.sources.TxLog.Layout

/** Hive-style partition recording ([[TxLog.Layout]]'s `partitionBy`), pinned:
  * value-only pruning, mixed partitioned/plain appends (absence never
  * skips), special-character values, null rejection, and checkpoint
  * replay survival of the recorded values. */
class PartitionSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(n: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-part-$n").toString + "/t"

  test("partition values prune files by the log alone; a plain append can never be skipped") {
    val t = fresh("prune")
    TxLog.append(spark, t,
      Seq(("de", 1L), ("en", 2L), ("fr", 3L)).toDF("lang", "v"),
      Layout(partitionBy = Seq("lang")))
    TxLog.append(spark, t, Seq(("de", 4L)).toDF("lang", "v")) // unrecorded
    val (kept, live) = Skipping.kept(spark, t, Seq(EqualTo("lang", "de")))
    assert(live == 4 && kept.size == 2,
      "the de partition file AND the value-less plain file must be kept")
    assert(TxLog.read(spark, t).where(col("lang") === "de")
      .collect().map(_.getLong(1)).sorted.toSeq == Seq(1L, 4L))
    // a value nobody wrote keeps only the unprunable plain file, and the
    // residual filter still returns zero rows
    assert(TxLog.read(spark, t).where(col("lang") === "zz").isEmpty)
  }

  test("partition values survive Hive path escaping and checkpoint replay") {
    val t = fresh("esc")
    // ':' and ' ' are path-escaped by the partitioned writer
    TxLog.append(spark, t,
      Seq(("a:b c", 1L), ("plain", 2L)).toDF("k", "v"), Layout(partitionBy = Seq("k")))
    assert(TxLog.partitionValuesAt(spark, t, "k").values.toSet
      == Set("a:b c", "plain"))
    // push past the checkpoint cadence; the values must replay from it
    (1L to TxLog.checkpointEvery).foreach(i =>
      TxLog.append(spark, t, Seq(("plain", i)).toDF("k", "v"),
        Layout(partitionBy = Seq("k"))))
    assert(TxLog.checkpointVersions(spark, t).nonEmpty)
    val pv = TxLog.partitionValuesAt(spark, t, "k")
    assert(pv.values.toSet == Set("a:b c", "plain"))
    assert(TxLog.read(spark, t).where(col("k") === "a:b c")
      .collect().map(_.getLong(1)).toSeq == Seq(1L))
  }

  test("multi-level partitioning: per-level values recorded, equalities compose, nesting on disk") {
    val t = fresh("multi")
    TxLog.append(spark, t,
      Seq(("de", "web", 1L), ("de", "book", 2L), ("en", "web", 3L),
        ("en", "book", 4L)).toDF("lang", "src", "v"),
      Layout(partitionBy = Seq("lang", "src")))
    val (keptLang, live) = Skipping.kept(spark, t, Seq(EqualTo("lang", "de")))
    assert(live == 4 && keptLang.size == 2)
    val rows = TxLog.read(spark, t).where(col("lang") === "de" && col("src") === "web")
      .collect().map(_.getLong(2)).toSeq
    assert(rows == Seq(1L), "both equality rungs must compose")
    // the layout really nests on disk
    assert(TxLog.snapshotFiles(spark, t)
      .forall(p => p.contains("_g_pv=") && p.contains("_g_pv1=")))
  }

  test("compactPartitioned preserves pruning where plain compact degrades it") {
    val t = fresh("compactp")
    (0 to 2).foreach(i => TxLog.append(spark, t,
      Seq(("de", i * 10L), ("en", i * 10L + 1L), ("fr", i * 10L + 2L))
        .toDF("lang", "v"), Layout(partitionBy = Seq("lang"))))
    assert(Skipping.kept(spark, t, Seq(EqualTo("lang", "de")))._1.size == 3)
    val rowsBefore = TxLog.read(spark, t).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val cv = TxLog.compactPartitioned(spark, t, Seq("lang"))
    assert(TxLog.commitKind(spark, t, cv).contains("compact"))
    val (kept, liveAfter) = Skipping.kept(spark, t, Seq(EqualTo("lang", "de")))
    assert(liveAfter == 3, "one file per partition value after compaction")
    assert(kept.size == 1, "pruning must keep working on the compacted layout")
    assert(TxLog.read(spark, t).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq == rowsBefore,
      "partitioned compaction must be row-invisible")
    assert(TxLog.read(spark, t).where(col("lang") === "de")
      .collect().map(_.getLong(1)).sorted.toSeq == Seq(0L, 10L, 20L))
  }

  test("deletePartition: recorded files drop as pure metadata; unrecorded files CoW; no-ops are commit-free") {
    val t = fresh("drop")
    TxLog.append(spark, t,
      Seq(("de", 1L), ("de", 2L), ("en", 3L)).toDF("k", "v"),
      Layout(partitionBy = Seq("k")))
    TxLog.append(spark, t, Seq(("de", 4L), ("en", 5L)).toDF("k", "v")) // unrecorded
    val before = TxLog.snapshotFiles(spark, t)
    val deFiles = TxLog.partitionValuesAt(spark, t, "k")
      .collect { case (p, "de") => p }.toSet
    val v = TxLog.deletePartition(spark, t, "k", "de")
    val after = TxLog.snapshotFiles(spark, t).toSet
    assert(deFiles.forall(!after.contains(_)), "recorded de files must be removed")
    assert(TxLog.read(spark, t).collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == Set(("en", 3L), ("en", 5L)))
    assert(TxLog.commitKind(spark, t, v).contains("delete"))
    // time travel keeps the dropped partition
    assert(TxLog.read(spark, t, Some(v - 1)).count() == 5L)
    // MatView folds the drop signed (a CoW delete through the CDF)
    val mv = fresh("drop-mv")
    assert(graft.operators.MatView.refresh(spark, t, mv, Seq("k"), "v") == "build")
    TxLog.append(spark, t, Seq(("fr", 9L)).toDF("k", "v"), Layout(partitionBy = Seq("k")))
    assert(graft.operators.MatView.refresh(spark, t, mv, Seq("k"), "v") == "incremental")
    TxLog.deletePartition(spark, t, "k", "fr")
    assert(graft.operators.MatView.refresh(spark, t, mv, Seq("k"), "v") == "incremental-delete")
    assert(TxLog.read(spark, mv).collect().map(_.getString(0)).toSet == Set("en"))
    // a value nobody holds is a commit-free no-op... except the honest
    // CoW probe of value-less files finds nothing and stays commit-free
    val head = TxLog.latestVersion(spark, t)
    assert(TxLog.deletePartition(spark, t, "k", "zz") == head)
    // PURE-metadata case: drop when every live file carries a value
    val t2 = fresh("drop-meta")
    TxLog.append(spark, t2,
      Seq(("de", 1L), ("en", 2L)).toDF("k", "v"), Layout(partitionBy = Seq("k")))
    val dv = TxLog.deletePartition(spark, t2, "k", "de")
    val h = TxLog.history(spark, t2).filter(col("version") === dv).head()
    assert(h.getAs[Int]("n_adds") == 0,
      "a fully-recorded drop must write nothing")
    assert(TxLog.read(spark, t2).collect().map(_.getString(0)).toSeq == Seq("en"))
  }

  test("null partition values are rejected loudly; dv deletes anti-apply on partition reads") {
    val t = fresh("nulldv")
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, t,
        Seq((Some("x"), 1L), (None, 2L)).toDF("k", "v"), Layout(partitionBy = Seq("k")))
    }
    assert(e.getMessage.contains("non-null partition column"))
    val t2 = fresh("dv")
    TxLog.append(spark, t2,
      Seq(("de", 1L), ("de", 2L), ("en", 3L)).toDF("k", "v"),
      Layout(partitionBy = Seq("k")))
    TxLog.deleteWhereMorExpr(spark, t2, "v = 1")
    assert(TxLog.read(spark, t2).where(col("k") === "de")
      .collect().map(_.getLong(1)).toSeq == Seq(2L))
  }

  test("library append and appendIdempotent into a declared table record each file's value, and a partition probe prunes") {
    val t = fresh("declared")
    val rows = Seq(("de", 1L), ("en", 2L)).toDF("lang", "v")
    TxLog.createTablePartitioned(spark, t, rows.schema, Seq("lang"))
    TxLog.append(spark, t, rows)
    assert(TxLog.appendIdempotent(spark, t,
      Seq(("fr", 3L), ("de", 4L)).toDF("lang", "v"), "ingest", 0L).nonEmpty)
    val live = TxLog.snapshotFiles(spark, t)
    val pv = TxLog.partitionValuesAt(spark, t, "lang")
    assert(live.size == 4 && live.toSet == pv.keySet,
      s"every file must record its declared partition value: $pv")
    assert(pv.values.toSet == Set("de", "en", "fr"))
    val (kept, total) = Skipping.kept(spark, t, Seq(EqualTo("lang", "de")))
    assert(total == 4 && kept.size == 2,
      s"a partition probe must prune: kept ${kept.size} of $total")
    assert(TxLog.read(spark, t).where(col("lang") === "de")
      .collect().map(_.getLong(1)).sorted.toSeq == Seq(1L, 4L))
  }

  test("partitioned idempotent replay lands once with values recorded; contradicting layouts fail loudly") {
    val t = fresh("idem")
    val batch = Seq(("de", 1L), ("en", 2L)).toDF("lang", "v")
    val byLang = Layout(partitionBy = Seq("lang"))
    assert(TxLog.appendIdempotent(spark, t, batch, "ingest", 7L, byLang) == Some(0L))
    assert(TxLog.appendIdempotent(spark, t, batch, "ingest", 7L, byLang).isEmpty,
      "the replayed (appId, batchId) must be skipped")
    assert(TxLog.versions(spark, t) == Seq(0L), "exactly one commit")
    assert(TxLog.lastCommittedBatch(spark, t, "ingest").contains(7L))
    val live = TxLog.snapshotFiles(spark, t)
    val pv = TxLog.partitionValuesAt(spark, t, "lang")
    assert(live.toSet == pv.keySet && pv.values.toSet == Set("de", "en"))
    // every directory under data/ belongs to the one landed commit
    val dataDirs = new java.io.File(t, "data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dataDirs == live.map(_.split('/')(1)).toSet,
      s"orphan data directories: $dataDirs")
    // a declared table: the matching explicit layout lands, a different
    // one and bloom (explicit or declared partitioning) fail before any
    // write
    val d = fresh("idem-declared")
    TxLog.createTablePartitioned(spark, d, batch.schema, Seq("lang"))
    val e1 = intercept[IllegalArgumentException](
      TxLog.append(spark, d, batch, Layout(partitionBy = Seq("v"))))
    assert(e1.getMessage.contains("declared PARTITIONED BY"))
    val e2 = intercept[IllegalArgumentException](TxLog.append(spark, t, batch,
      Layout(bloom = Some("v"), partitionBy = Seq("lang"))))
    assert(e2.getMessage.contains("bloom"))
    intercept[IllegalArgumentException](
      TxLog.append(spark, d, batch, Layout(bloom = Some("v"))))
    assert(TxLog.versions(spark, d) == Seq(0L) &&
      !new java.io.File(d, "data").exists, "a rejected layout must write nothing")
    TxLog.append(spark, d, batch, byLang)
    assert(TxLog.partitionValuesAt(spark, d, "lang").values.toSet == Set("de", "en"))
  }
}
