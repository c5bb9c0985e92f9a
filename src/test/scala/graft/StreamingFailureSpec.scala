package graft

import org.apache.spark.sql.functions.col
import graft.sources.TxLog

/** Failure injection for the streaming → versioned-table landings: the
  * crash window foreachBatch's at-least-once contract leaves open is
  * "table commit landed, streaming checkpoint commit did NOT". We
  * manufacture exactly that state from the outside — run a batch to
  * completion, then delete the checkpoint's `commits/<latest>` file
  * (the offsets file stays, so on restart the engine re-executes the
  * same batchId over the same offset range; the graft-txlog source is
  * replayable by construction) — and prove:
  *  - the plain [[TxLog.appendSink]] duplicates the batch (the hazard
  *    is real; this is the control that shows the injection works);
  *  - [[TxLog.appendSink]] with an appId detects the replayed (appId,
  *    batchId) via the txn marker INSIDE the table's own commit log
  *    and lands nothing twice;
  *  - [[graft.streaming.StreamingCdc.applyChangesVersioned]] with
  *    `txnAppId` lands exactly-once — same versions, same content —
  *    and still picks up genuinely new changes after the recovery.
  */
class StreamingFailureSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-fail-$name").toString + "/t"

  /** Fake the crash: offsets/<latest> written, commits/<latest> not
    * (ChecksumFs keeps a `.N.crc` sidecar — a real crash leaves
    * neither, so both go). */
  private def dropLastCheckpointCommit(ckpt: String): Long = {
    val dir = new java.io.File(ckpt, "commits")
    val latest = dir.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    assert(new java.io.File(dir, latest.toString).delete(),
      s"could not delete checkpoint commit $latest")
    new java.io.File(dir, s".$latest.crc").delete() // absent on some FS
    latest
  }

  private def streamInto(src: String, ckpt: String,
                         sink: (org.apache.spark.sql.DataFrame, Long) => Unit) =
    spark.readStream.format("graft-txlog").load(src)
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckpt).outputMode("append").start()

  test("control: the plain append sink DOES duplicate across the injected crash window") {
    val src = freshTable("ctl-src"); val dst = freshTable("ctl-dst")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fail-ckpt0").toString
    TxLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val q = streamInto(src, ckpt, TxLog.appendSink(dst))
    try q.processAllAvailable() finally q.stop()
    assert(TxLog.read(spark, dst).count() == 2)
    dropLastCheckpointCommit(ckpt)
    val q2 = streamInto(src, ckpt, TxLog.appendSink(dst))
    try q2.processAllAvailable() finally q2.stop()
    // at-least-once: the replayed batch landed AGAIN — this is the
    // hazard the txn marker exists to close (and proof the injection
    // reproduces it)
    assert(TxLog.read(spark, dst).count() == 4,
      "expected the control to duplicate — did the injection stop working?")
  }

  test("appendSinkExactlyOnce: the replayed batch is detected and skipped") {
    val src = freshTable("eo-src"); val dst = freshTable("eo-dst")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fail-ckpt1").toString
    TxLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    TxLog.append(spark, src, Seq((3L, "c")).toDF("id", "s"))
    val q = streamInto(src, ckpt, TxLog.appendSink(dst, appId = Some("ingest1")))
    try q.processAllAvailable() finally q.stop()
    val versionsBefore = TxLog.versions(spark, dst)
    val contentBefore = TxLog.read(spark, dst).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(contentBefore == Set((1L, "a"), (2L, "b"), (3L, "c")))
    dropLastCheckpointCommit(ckpt)
    val q2 = streamInto(src, ckpt, TxLog.appendSink(dst, appId = Some("ingest1")))
    try {
      q2.processAllAvailable()
      // exactly-once: no new version, no duplicate rows
      assert(TxLog.versions(spark, dst) == versionsBefore,
        s"replay added a version: ${TxLog.versions(spark, dst)} vs $versionsBefore")
      assert(TxLog.read(spark, dst).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == contentBefore)
      // recovery is not a dead end: a genuinely NEW commit still lands
      TxLog.append(spark, src, Seq((4L, "d")).toDF("id", "s"))
      q2.processAllAvailable()
      assert(TxLog.read(spark, dst).count() == 4)
    } finally q2.stop()
  }

  test("applyChangesVersioned + txnAppId: exactly-once landing across the crash, then live again") {
    val src = freshTable("cdc-src"); val dst = freshTable("cdc-dst")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fail-ckpt2").toString
    // full-image change feed: (id, s, seq, deleted)
    TxLog.append(spark, src,
      Seq((1L, "a", 1L, false), (2L, "b", 1L, false))
        .toDF("id", "s", "seq", "deleted"))
    TxLog.append(spark, src,
      Seq((1L, "a2", 2L, false), (3L, "c", 1L, false), (2L, "b", 2L, true))
        .toDF("id", "s", "seq", "deleted"))
    def start() = graft.streaming.StreamingCdc.applyChangesVersioned(
      spark.readStream.format("graft-txlog").load(src)
        .drop("_commit_version"),
      dst, keys = Seq("id"), seqCol = "seq", deleteCol = "deleted",
      checkpoint = Some(ckpt), txnAppId = Some("cdc1"))
    val q = start()
    try q.processAllAvailable() finally q.stop()
    def content() = TxLog.read(spark, dst).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val versionsBefore = TxLog.versions(spark, dst)
    assert(content() == Set((1L, "a2"), (3L, "c")), content().toString)
    dropLastCheckpointCommit(ckpt)
    val q2 = start()
    try {
      q2.processAllAvailable()
      // the replayed merge batch was skipped by its txn marker: same
      // version history, same content — a pinned reader's snapshot
      // never silently reshuffles under it
      assert(TxLog.versions(spark, dst) == versionsBefore,
        s"replay added a redundant version: ${TxLog.versions(spark, dst)}")
      assert(content() == Set((1L, "a2"), (3L, "c")))
      // and the recovered query keeps maintaining the table
      TxLog.append(spark, src,
        Seq((4L, "d", 1L, false)).toDF("id", "s", "seq", "deleted"))
      q2.processAllAvailable()
      assert(content() == Set((1L, "a2"), (3L, "c"), (4L, "d")))
      assert(TxLog.versions(spark, dst).size == versionsBefore.size + 1)
    } finally q2.stop()
  }

  test("writeStream.toTable (V2 sink) lands exactly-once across the injected crash window") {
    val src = freshTable("v2-src"); val dst = freshTable("v2-dst")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-fail-ckptV2").toString
    TxLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    def start() = spark.readStream.format("graft-txlog").load(src)
      .select(col("id"), col("s")) // the source's version column stays behind
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").toTable(s"graft.`$dst`")
    val q = start()
    try q.processAllAvailable() finally q.stop()
    assert(TxLog.read(spark, dst).count() == 2,
      "the first epoch must land (auto-created table included)")
    dropLastCheckpointCommit(ckpt)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(TxLog.read(spark, dst).count() == 2,
      "the replayed epoch must be detected by its txn marker, never re-land")
    // new data still flows after the recovery
    TxLog.append(spark, src, Seq((3L, "c")).toDF("id", "s"))
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(TxLog.read(spark, dst).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the staging tree carries no leftover parquet
    def parquetUnder(f: java.io.File): Seq[java.io.File] =
      if (!f.exists()) Seq.empty
      else if (f.isFile) Seq(f).filter(_.getName.endsWith(".parquet"))
      else f.listFiles().toSeq.flatMap(parquetUnder)
    assert(parquetUnder(new java.io.File(dst, "_staging")).isEmpty,
      "every committed epoch must clean its staging dir")
  }

  test("txn primitives: lastCommittedBatch tracks, replays return None") {
    val t = freshTable("txn")
    assert(TxLog.lastCommittedBatch(spark, t, "app").isEmpty)
    assert(TxLog.appendIdempotent(spark, t,
      Seq((1L, "a")).toDF("id", "s"), "app", 0L).contains(0L))
    assert(TxLog.lastCommittedBatch(spark, t, "app").contains(0L))
    // replay of batch 0 — and any batch at or below the watermark
    assert(TxLog.appendIdempotent(spark, t,
      Seq((9L, "x")).toDF("id", "s"), "app", 0L).isEmpty)
    assert(TxLog.read(spark, t).count() == 1)
    // another appId is independent
    assert(TxLog.appendIdempotent(spark, t,
      Seq((2L, "b")).toDF("id", "s"), "other", 0L).isDefined)
    // overwrite flavor
    assert(TxLog.overwriteIdempotent(spark, t,
      Seq((7L, "z")).toDF("id", "s"), "app", 1L).isDefined)
    assert(TxLog.overwriteIdempotent(spark, t,
      Seq((8L, "q")).toDF("id", "s"), "app", 1L).isEmpty)
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(7L))
    // a bad appId is loud
    intercept[IllegalArgumentException](
      TxLog.lastCommittedBatch(spark, t, "a:b"))
  }
}
