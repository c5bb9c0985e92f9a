package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.EqualTo
import graft.sources.TxLog
import graft.sources.TxLog.Layout

class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): String = {
    val t = java.nio.file.Files.createTempDirectory(s"graft-txlog-$name").toString + "/t"
    t
  }

  test("append/read lifecycle: versions accumulate, latest sees everything") {
    val t = freshTable("life")
    val v0 = TxLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val v1 = TxLog.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    assert(v0 == 0L && v1 == 1L)
    assert(TxLog.versions(spark, t) == Seq(0L, 1L))
    val got = TxLog.read(spark, t).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("time travel: reading at an old version replays only that prefix") {
    val t = freshTable("tt")
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    TxLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
    TxLog.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    val atV1 = TxLog.read(spark, t, asOf = Some(1L))
      .collect().map(_.getLong(0)).toSet
    assert(atV1 == Set(1L, 2L), s"version 1 must not see commit 2: $atV1")
    val atV0 = TxLog.read(spark, t, asOf = Some(0L))
      .collect().map(_.getLong(0)).toSet
    assert(atV0 == Set(1L))
  }

  test("compaction rewrites the live set; pinned readers still see the old files") {
    val t = freshTable("compact")
    TxLog.append(spark, t, (1L to 50L).map(i => (i, s"x$i")).toDF("id", "s"))
    TxLog.append(spark, t, (51L to 80L).map(i => (i, s"x$i")).toDF("id", "s"))
    val preFiles = TxLog.snapshotFiles(spark, t)
    val cv = TxLog.compact(spark, t)
    // latest: same rows, fewer (one) files, all from the compaction
    val postFiles = TxLog.snapshotFiles(spark, t)
    assert(postFiles.size == 1 && postFiles.forall(_.contains("-compact")),
      postFiles.toString)
    val latest = TxLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(latest == (1L to 80L).toSet)
    // a reader pinned BEFORE the compaction replays the original files
    assert(TxLog.snapshotFiles(spark, t, asOf = Some(cv - 1)) == preFiles)
    assert(TxLog.read(spark, t, asOf = Some(cv - 1))
      .collect().map(_.getLong(0)).toSet == (1L to 80L).toSet)
  }

  test("compactClustered: clustered rewrite with disjoint file ranges; pinned readers untouched") {
    val t = freshTable("optz")
    // two shuffled appends so arrival order has NO key layout
    val r = new scala.util.Random(7)
    TxLog.append(spark, t, r.shuffle((1L to 60L).toList).map(i => (i, s"x$i")).toDF("id", "s"))
    TxLog.append(spark, t, r.shuffle((61L to 120L).toList).map(i => (i, s"x$i")).toDF("id", "s"))
    val preFiles = TxLog.snapshotFiles(spark, t)
    val cv = TxLog.compactClustered(spark, t, files = 4, "id")
    // transaction shape: one commit, N clustered files, rows preserved
    val postFiles = TxLog.snapshotFiles(spark, t)
    assert(postFiles.size == 4 && postFiles.forall(_.contains("-compact")), postFiles.toString)
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == (1L to 120L).toSet)
    // LAYOUT: per-file [min,max] on the cluster key are pairwise disjoint —
    // the property footer-stat pruning needs (same proof as ClusteredWriteSpec)
    val ranges = postFiles.map { rel =>
      val one = spark.read.parquet(s"$t/$rel")
        .agg(org.apache.spark.sql.functions.min("id"),
             org.apache.spark.sql.functions.max("id")).head
      (one.getLong(0), one.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
    // pinned reader still replays the pre-rewrite file set
    assert(TxLog.snapshotFiles(spark, t, asOf = Some(cv - 1)) == preFiles)
    assert(TxLog.read(spark, t, asOf = Some(cv - 1))
      .collect().map(_.getLong(0)).toSet == (1L to 120L).toSet)
  }

  test("overwrite lands a MERGE result as a new version; the old snapshot stays readable") {
    import graft.operators.Merge
    val t = freshTable("merge")
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    TxLog.append(spark, t, base)
    // change batch: update k=2, delete k=3, insert k=4
    val batch = Seq((2L, 21.0, false), (3L, 30.0, true), (4L, 40.0, false))
      .toDF("k", "v", "_delete")
    val merged = Merge.mergeUpsert(TxLog.read(spark, t), batch,
      Seq("k"), Some("_delete"))
    val mv = TxLog.overwrite(spark, t, merged)
    val latest = TxLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(latest == Set((1L, 10.0), (2L, 21.0), (4L, 40.0)), latest.toString)
    // time travel to the pre-merge version: the original rows, untouched
    val before = TxLog.read(spark, t, asOf = Some(mv - 1)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(before == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)), before.toString)
  }

  test("empty snapshot and double-commit fail loudly") {
    val t = freshTable("err")
    intercept[IllegalArgumentException](TxLog.read(spark, t))
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    // destroy resets completely: versions restart at 0
    TxLog.destroy(spark, t)
    assert(TxLog.versions(spark, t).isEmpty)
    val v = TxLog.append(spark, t, Seq((9L, "z")).toDF("id", "s"))
    assert(v == 0L)
  }

  test("appendSink: each micro-batch is one versioned commit; the union is the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = freshTable("sink")
    val stream = MemoryStream[(Long, String)](spark)
    val q = stream.toDF().toDF("id", "s")
      .writeStream.foreachBatch(TxLog.appendSink(t)).outputMode("append").start()
    try {
      stream.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      stream.addData((3L, "c"))
      q.processAllAvailable()
      assert(TxLog.versions(spark, t) == Seq(0L, 1L))
      assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
      // the mid-stream version is a stable training snapshot
      assert(TxLog.read(spark, t, asOf = Some(0L))
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    } finally q.stop()
  }

  test("vacuum reclaims unreferenced files; vacuumed versions fail loudly at the API") {
    val t = freshTable("vac")
    TxLog.append(spark, t, (1L to 40L).map(i => (i, s"x$i")).toDF("id", "s"))
    TxLog.append(spark, t, (41L to 60L).map(i => (i, s"x$i")).toDF("id", "s"))
    val cv = TxLog.compact(spark, t)
    val preRefs = TxLog.snapshotFiles(spark, t, asOf = Some(cv - 1))
    val removed = TxLog.vacuum(spark, t, retainLast = 1, minFileAgeMs = 0L)
    // everything only the pre-compaction versions referenced is gone
    assert(removed.toSet == preRefs.toSet, s"removed $removed vs pre $preRefs")
    assert(TxLog.earliestReadableVersion(spark, t) == cv)
    // the retained snapshot is fully intact
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == (1L to 60L).toSet)
    // time travel into the vacuumed range is a LOUD API error, not a
    // missing-file scan failure
    val e = intercept[IllegalArgumentException](
      TxLog.read(spark, t, asOf = Some(cv - 1)))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // the skipping readers take the same gate
    Seq[() => Any](
      () => TxLog.read(spark, t, Some(cv - 1)).where(col("id").between(1L, 60L)),
      () => TxLog.read(spark, t, Some(cv - 1)).where(col("s") === "x1")
    ).foreach { r =>
      val e2 = intercept[IllegalArgumentException](r())
      assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
    }
    // vacuum with everything retained removes nothing
    assert(TxLog.vacuum(spark, t, retainLast = 10, minFileAgeMs = 0L).isEmpty)
  }

  test("checkpoint snapshots: read past the cadence replays ckpt + suffix ≡ full replay") {
    val t = freshTable("ckpt")
    // 13 commits crosses the checkpointEvery=10 cadence once
    (0 until 13).foreach(i => TxLog.append(spark, t, Seq((i.toLong, s"v$i")).toDF("id", "s")))
    val ckpts = TxLog.checkpointVersions(spark, t)
    assert(ckpts == Seq(10L), s"expected one checkpoint at v10: $ckpts")
    val withCkpt = TxLog.snapshotFiles(spark, t)
    val atV10 = TxLog.snapshotFiles(spark, t, asOf = Some(10L))
    val atV9 = TxLog.snapshotFiles(spark, t, asOf = Some(9L)) // pre-ckpt: full replay path
    // ground truth: remove the checkpoint and force the full-replay path
    val f = new Path(t, "_log").getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(t, f"_log/${10L}%08d.checkpoint"), false)
    assert(TxLog.snapshotFiles(spark, t) == withCkpt,
      "checkpointed read must equal full replay, incl. file order")
    assert(TxLog.snapshotFiles(spark, t, asOf = Some(10L)) == atV10)
    assert(TxLog.snapshotFiles(spark, t, asOf = Some(9L)) == atV9)
    // rows are intact either way
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == (0L to 12L).toSet)
  }

  test("checkpoint after compaction carries the rewritten live set") {
    val t = freshTable("ckpt2")
    (0 until 10).foreach(i => TxLog.append(spark, t, Seq((i.toLong, s"v$i")).toDF("id", "s")))
    // v10 is the compaction AND the checkpoint version
    val cv = TxLog.compact(spark, t)
    assert(cv == 10L && TxLog.checkpointVersions(spark, t) == Seq(10L))
    assert(TxLog.snapshotFiles(spark, t).size == 1)
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == (0L to 9L).toSet)
    // pre-compaction pin still replays the original files (no ckpt ≤ 9)
    assert(TxLog.read(spark, t, asOf = Some(9L))
      .collect().map(_.getLong(0)).toSet == (0L to 9L).toSet)
  }

  test("checkpointed replay ≡ full replay at every version, all payload kinds") {
    val t = freshTable("ckptall")
    // stats + dv + schema + metas (an active and a cleared CHECK) + txn
    // marks of two appIds all cross the cadence inside the checkpoints
    (0 until 5).foreach(i => TxLog.append(spark, t,
      Seq((i.toLong, s"v$i")).toDF("id", "s"), Layout(stats = Seq("id")))) // v0..v4
    TxLog.addCheckConstraint(spark, t, "pos", "id >= 0") // v5
    TxLog.addCheckConstraint(spark, t, "small", "id < 1000") // v6
    assert(TxLog.appendIdempotent(spark, t, Seq((5L, "v5")).toDF("id", "s"),
      "app-a", 1L).contains(7L))
    TxLog.deleteWhereMorExpr(spark, t, "id = 3") // v8: dv binding
    TxLog.dropCheckConstraint(spark, t, "pos") // v9: a cleared key
    assert(TxLog.appendIdempotent(spark, t, Seq((100L, "x")).toDF("id", "s"),
      "app-b", 7L).contains(10L)) // v10 → ckpt
    assert(TxLog.checkpointVersions(spark, t) == Seq(10L))
    assert(!TxLog.read(spark, t).collect().map(_.getLong(0)).contains(3L),
      "the MOR delete must hold through the checkpoint")
    // v11: restore to v7 re-binds every restored file to the unbound
    // sentinel, so the id-3 row comes back
    assert(TxLog.restore(spark, t, 7L) == 11L)
    assert(TxLog.dvAt(spark, t).isEmpty)
    TxLog.addColumn(spark, t, "n", org.apache.spark.sql.types.LongType) // v12
    TxLog.deleteWhereMorExpr(spark, t, "id = 5") // v13
    def batch(id: Long) = Seq((id, "y", id)).toDF("id", "s", "n")
    assert(TxLog.appendIdempotent(spark, t, batch(200L), "app-a", 2L).contains(14L))
    assert(TxLog.appendIdempotent(spark, t, batch(299L), "app-a", 2L).isEmpty,
      "a replayed batch lands nothing")
    TxLog.addCheckConstraint(spark, t, "big", "id < 10000") // v15
    TxLog.dropCheckConstraint(spark, t, "small") // v16
    assert(TxLog.appendIdempotent(spark, t, batch(201L), "app-b", 8L).contains(17L))
    TxLog.append(spark, t, batch(202L)) // v18
    assert(TxLog.appendIdempotent(spark, t, batch(203L), "app-a", 3L).contains(19L))
    TxLog.append(spark, t, batch(204L)) // v20 → ckpt
    assert(TxLog.checkpointVersions(spark, t) == Seq(10L, 20L))
    val vs = TxLog.versions(spark, t)
    def state(v: Long) = (TxLog.snapshotFiles(spark, t, Some(v)),
      TxLog.schemaAt(spark, t, Some(v)), TxLog.statsAt(spark, t, "id", Some(v)),
      TxLog.dvAt(spark, t, Some(v)), TxLog.commitMetas(spark, t, Some(v)),
      TxLog.lastCommittedBatch(spark, t, "app-a", Some(v)),
      TxLog.lastCommittedBatch(spark, t, "app-b", Some(v)))
    val viaCkpt = vs.map(state)
    val rowsViaCkpt = TxLog.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
    assert(rowsViaCkpt == ((0L to 4L) ++ (200L to 204L)))
    assert(viaCkpt(10)._4.size == 1 && viaCkpt(11)._4.isEmpty &&
      viaCkpt(20)._4.size == 1, "dv bindings: bound, unbound by restore, re-bound")
    assert(viaCkpt(11)._2.isEmpty && viaCkpt(20)._2.exists(_.fieldNames.contains("n")))
    assert(viaCkpt(20)._3.size == 5, "the restored files' stats survive v20's checkpoint")
    assert(viaCkpt(10)._5 == Map("check-pos" -> "", "check-small" -> "id < 1000"))
    assert(viaCkpt(20)._5 ==
      Map("check-pos" -> "", "check-small" -> "", "check-big" -> "id < 10000"))
    assert((viaCkpt(10)._6, viaCkpt(10)._7) == ((Some(1L), Some(7L))))
    assert((viaCkpt(20)._6, viaCkpt(20)._7) == ((Some(3L), Some(8L))))
    assert(TxLog.checkConstraints(spark, t) == Map("big" -> "id < 10000"))
    // ground truth: delete every checkpoint; checkpoints an older build
    // wrote (`.ckpt` without metas or txn marks, parquet `.ckptpq`) are
    // never listed, so they cannot matter
    val f = new Path(t, "_log").getFileSystem(spark.sparkContext.hadoopConfiguration)
    def logFile(name: String) = java.nio.file.Paths.get(t, "_log", name)
    val oldFormat = java.nio.file.Files.readAllLines(logFile(f"${20L}%08d.checkpoint"))
    Seq(10L, 20L).foreach(c =>
      assert(f.delete(new Path(t, f"_log/$c%08d.checkpoint"), false)))
    oldFormat.removeIf(l => l.contains("\"a\":\"meta\"") || l.contains("\"a\":\"txn\""))
    java.nio.file.Files.write(logFile(f"${20L}%08d.ckpt"), oldFormat)
    java.nio.file.Files.write(logFile(f"${20L}%08d.ckptpq"),
      "not a checkpoint".getBytes("UTF-8"))
    assert(TxLog.checkpointVersions(spark, t).isEmpty)
    vs.zip(viaCkpt).foreach { case (v, expected) =>
      assert(state(v) == expected,
        s"checkpointed replay at v$v must equal full replay, incl. file order")
    }
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
      == rowsViaCkpt)
  }

  test("metadata at or after a checkpoint needs no earlier commit") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val t = freshTable("ckptmeta")
    TxLog.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))) // v0
    TxLog.addIdentityColumn(spark, t, "rid") // v1
    TxLog.addCheckConstraint(spark, t, "pos", "id >= 0") // v2
    (0L until 10L).foreach(b => assert(TxLog.appendIdempotent(spark, t,
      Seq((b, s"v$b")).toDF("id", "s"), "ingest", b).contains(b + 3))) // v3..v12
    assert(TxLog.checkpointVersions(spark, t) == Seq(10L))
    // a copy whose log starts at the checkpoint: every commit that
    // declared the schema, the identity column, the constraint and the
    // first txn marks is gone
    val copy = freshTable("ckptmeta-copy")
    val src = java.nio.file.Paths.get(t)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val dst = java.nio.file.Paths.get(copy).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally walk.close()
    (0L until 10L).foreach(v => java.nio.file.Files.delete(
      java.nio.file.Paths.get(copy, "_log", f"$v%08d.json")))
    assert(TxLog.versions(spark, copy) == (10L to 12L))
    def meta(table: String) = (TxLog.commitMetas(spark, table),
      TxLog.checkConstraints(spark, table), TxLog.identityColumns(spark, table),
      TxLog.lastCommittedBatch(spark, table, "ingest"),
      TxLog.schemaAt(spark, table), TxLog.snapshotFiles(spark, table))
    assert(meta(copy) == meta(t))
    assert(TxLog.identityColumns(spark, copy)("rid")._3 == 11L)
    val e = intercept[IllegalArgumentException](TxLog.append(spark, copy,
      Seq((-1L, "bad")).toDF("id", "s")))
    assert(e.getMessage.contains("violates CHECK constraint 'pos'"), e.getMessage)
    assert(TxLog.appendIdempotent(spark, copy, Seq((9L, "dup")).toDF("id", "s"),
      "ingest", 9L).isEmpty, "the checkpoint carries the txn high-water")
  }

  test("corrupt commit lines and format-hostile paths fail loudly") {
    val t = freshTable("corrupt")
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    // plant a malformed line in a new commit file
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bad = new Path(t, f"_log/${1L}%08d.json")
    val out = f.create(bad, false)
    out.write("""{"a":"add","path-field-renamed":"x.parquet"}""".getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalArgumentException](TxLog.snapshotFiles(spark, t))
    assert(e.getMessage.contains("malformed commit line"), e.getMessage)
    // an unknown action is equally loud
    val out2 = f.create(bad, true)
    out2.write("""{"a":"truncate","p":"x.parquet"}""".getBytes("UTF-8"))
    out2.close()
    val e2 = intercept[IllegalArgumentException](TxLog.snapshotFiles(spark, t))
    assert(e2.getMessage.contains("bad action"), e2.getMessage)
  }

  test("guard rails: rewrite of an empty table and not-yet-existing versions are loud") {
    val t = freshTable("guards")
    val e = intercept[IllegalArgumentException](
      TxLog.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s")))
    assert(e.getMessage.contains("empty table"), e.getMessage)
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    // asOf beyond the latest version must not silently answer with latest
    val e2 = intercept[IllegalArgumentException](TxLog.read(spark, t, asOf = Some(7L)))
    assert(e2.getMessage.contains("does not exist yet"), e2.getMessage)
  }

  test("readChanges: the appended delta, tagged by version; rewrites in range are loud") {
    val t = freshTable("cdf")
    TxLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    TxLog.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    TxLog.append(spark, t, Seq((4L, "d")).toDF("id", "s"))
    val all = TxLog.readChanges(spark, t, -1L, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(r.fieldIndex("_commit_version")))).toSet
    assert(all == Set((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L)), all.toString)
    // incremental consumption: exactly the commits after version 0
    val tail = TxLog.readChanges(spark, t, 0L, 2L)
      .collect().map(_.getLong(0)).toSet
    assert(tail == Set(3L, 4L))
    // a compaction in range appends nothing — skipped exactly
    TxLog.compact(spark, t)
    assert(TxLog.readChanges(spark, t, 0L, 3L)
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // an overwrite in range is a loud failure: its rows are changes the
    // append feed cannot express
    TxLog.overwrite(spark, t, Seq((9L, "z")).toDF("id", "s"))
    val e = intercept[IllegalArgumentException](TxLog.readChanges(spark, t, 0L, 4L))
    assert(e.getMessage.contains("rewrite"), e.getMessage)
    // ranges that avoid the rewrite still work
    assert(TxLog.readChanges(spark, t, 0L, 2L).count() == 2L)
  }

  test("streaming read: each commit is one micro-batch; offsets survive restart") {
    val t = freshTable("stream")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-txlog-ckpt").toString
    TxLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    TxLog.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    // foreachBatch sink (memory sink cannot recover from a checkpoint):
    // records (batchId, rows-with-version) so one-commit-per-batch is
    // directly assertable
    val batches = collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Long)])]
    def start() = spark.readStream.format("graft-txlog").load(t)
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val rows = df.collect().toSeq
            .map(r => (r.getLong(0), r.getLong(r.fieldIndex("_commit_version"))))
          batches.synchronized { batches += (id -> rows) }; ()
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q = start()
    try {
      q.processAllAvailable()
      def delivered = batches.synchronized(batches.flatMap(_._2).toSet)
      assert(delivered == Set((1L, 0L), (2L, 0L), (3L, 1L)), delivered.toString)
      // one commit per micro-batch: a batch never mixes versions
      batches.synchronized(batches.filter(_._2.nonEmpty)).foreach { case (id, rows) =>
        assert(rows.map(_._2).distinct.size == 1, s"batch $id mixes commits: $rows")
      }
      // a commit landing while the stream runs is picked up
      TxLog.append(spark, t, Seq((4L, "d")).toDF("id", "s"))
      q.processAllAvailable()
      assert(delivered.map(_._1) == Set(1L, 2L, 3L, 4L))
    } finally q.stop()
    // restart from the engine checkpoint: only NEW commits are delivered
    TxLog.append(spark, t, Seq((5L, "e")).toDF("id", "s"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val all = batches.synchronized(batches.flatMap(_._2).toSeq)
      assert(all.map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L), all.toString)
      assert(all.size == all.distinct.size, s"restart re-delivered commits: $all")
    } finally q2.stop()
  }

  test("vacuum reclaims aged orphaned streaming-staging files") {
    val t = freshTable("stagevac")
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    val staged = new java.io.File(t, "_staging/app/7")
    staged.mkdirs()
    val orphan = new java.io.File(staged, "part-0-1.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    // dry run reports it, deletes nothing
    val report = TxLog.vacuum(spark, t, retainLast = 1, minFileAgeMs = 0L,
      dryRun = true)
    assert(report.exists(_.contains("_staging")) && orphan.exists(),
      report.toString)
    // a real vacuum under the exact horizon reclaims it; data untouched
    val gone = TxLog.vacuum(spark, t, retainLast = 1, minFileAgeMs = 0L)
    assert(gone.exists(_.contains("_staging")) && !orphan.exists(),
      gone.toString)
    assert(TxLog.read(spark, t).count() == 1L)
    // a fresh staged file inside the default in-flight horizon survives
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1))
    TxLog.vacuum(spark, t, retainLast = 1)
    assert(orphan.exists(), "an in-horizon staged file must survive vacuum")
  }

  test("restat re-records only the MISSING files' bounds, string columns included") {
    val t = freshTable("restat")
    // wave 0 covered at append time; wave 1 lands unrecorded
    TxLog.append(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(1),
      Layout(stats = Seq("id", "s")))
    TxLog.append(spark, t,
      Seq((10L, "x"), (11L, "y")).toDF("id", "s").repartition(1))
    // the unrecorded file can never be skipped: point filter keeps 2
    assert(TxLog.pruneForFilters(spark, t, Seq(EqualTo("id", 1L)), None)
      .size == 2)
    val v = TxLog.restat(spark, t, "id", "s")
    assert(v == TxLog.latestVersion(spark, t))
    // both channels now prune to 1 file; wave 0's bounds were never
    // re-derived (restat covered only the missing tail)
    assert(TxLog.pruneForFilters(spark, t, Seq(EqualTo("id", 1L)), None)
      .size == 1)
    assert(TxLog.pruneForFilters(spark, t, Seq(EqualTo("id", 10L)), None)
      .size == 1)
    assert(TxLog.pruneForFilters(spark, t, Seq(EqualTo("s", "x")), None)
      .size == 1, "string bounds must restat from the footer's binary stats")
    // nothing missing → commit-free no-op
    assert(TxLog.restat(spark, t, "id", "s") == v)
    // rows are untouched by the metadata commit
    assert(TxLog.read(spark, t).count() == 4L)
  }

  test("streaming read: a rewrite commit in the unread range aborts; behind the offset it is fine") {
    val t = freshTable("streamrw")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-txlog-ckpt2").toString
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    val seen = collection.mutable.ArrayBuffer.empty[Long]
    def start() = spark.readStream.format("graft-txlog").load(t)
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val ids = df.collect().toSeq.map(_.getLong(0))
          seen.synchronized { seen ++= ids }; ()
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q = start()
    try { q.processAllAvailable() } finally q.stop()
    // a compaction delivers NOTHING (it appends no rows — exact skip);
    // the appends around it flow through
    TxLog.compact(spark, t)
    TxLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.synchronized(seen.toSet) == Set(1L, 2L),
        seen.synchronized(seen.toSeq).toString)
    } finally q2.stop()
    // but an OVERWRITE in the unread range is a loud stream failure
    TxLog.overwrite(spark, t, Seq((9L, "z")).toDF("id", "s"))
    TxLog.append(spark, t, Seq((10L, "y")).toDF("id", "s"))
    val q3 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    assert(e.getMessage.contains("not an append"), e.getMessage)
    q3.stop()
    // …unless the consumer opts in: skipChangeCommits skips the rewrite
    // and delivers the appends after it
    val seen2 = collection.mutable.ArrayBuffer.empty[Long]
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-txlog-ckpt3").toString
    val q4 = spark.readStream.format("graft-txlog")
      .option("skipChangeCommits", "true").load(t)
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val ids = df.collect().toSeq.map(_.getLong(0))
          seen2.synchronized { seen2 ++= ids }; ()
      }
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try {
      q4.processAllAvailable()
      // fresh checkpoint: appends 1, 2, (overwrite skipped), 10
      assert(seen2.synchronized(seen2.toSet) == Set(1L, 2L, 10L),
        seen2.synchronized(seen2.toSeq).toString)
    } finally q4.stop()
  }

  test("CDC composite: change stream → versioned landings → pinned reads → restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = freshTable("cdcloop")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdcloop-ckpt").toString
    // change stream: (k, v, seq, delete) full-image changes
    val stream = MemoryStream[(Long, String, Long, Boolean)](spark)
    def start() = graft.streaming.StreamingCdc.applyChangesVersioned(
      stream.toDF().toDF("k", "v", "seq", "_del"),
      t, Seq("k"), "seq", "_del", checkpoint = Some(ckpt))
    def content(asOf: Option[Long] = None): Set[(Long, String)] =
      TxLog.read(spark, t, asOf).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val q = start()
    try {
      // batch 1: initial image (incl. two changes for k=2 — last wins)
      stream.addData((1L, "a", 1L, false), (2L, "b0", 1L, false), (2L, "b1", 2L, false))
      q.processAllAvailable()
      assert(TxLog.versions(spark, t) == Seq(0L))
      assert(content() == Set((1L, "a"), (2L, "b1")))
      // batch 2: update k=1, delete k=2, insert k=3
      stream.addData((1L, "a2", 3L, false), (2L, "b1", 4L, true), (3L, "c", 5L, false))
      q.processAllAvailable()
      assert(TxLog.versions(spark, t) == Seq(0L, 1L))
      assert(content() == Set((1L, "a2"), (3L, "c")))
      // version pinning: the pre-batch-2 training snapshot is intact
      assert(content(Some(0L)) == Set((1L, "a"), (2L, "b1")))
    } finally q.stop()
    // restart: new changes land as the next version; history unchanged
    val q2 = start()
    try {
      stream.addData((3L, "c2", 6L, false), (4L, "d", 7L, false))
      q2.processAllAvailable()
      // offsets recovered: ONLY the new batch landed (no replayed versions)
      assert(TxLog.versions(spark, t) == Seq(0L, 1L, 2L))
      assert(content() == Set((1L, "a2"), (3L, "c2"), (4L, "d")))
      assert(content(Some(1L)) == Set((1L, "a2"), (3L, "c")))
      assert(content(Some(0L)) == Set((1L, "a"), (2L, "b1")))
    } finally q2.stop()
  }

  // -------------------------------------------------------------------
  // Optimistic multi-writer concurrency (the public Delta-protocol
  // conflict rules: append never conflicts, compact tolerates
  // concurrent appends, overwrite is serializable)
  // -------------------------------------------------------------------

  test("OCC: two genuinely concurrent appenders, no lost commits, union read") {
    val t = freshTable("occ-aa")
    val perThread = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val start = new java.util.concurrent.CountDownLatch(1)
    def appender(base: Int) = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        (0 until perThread).foreach { i =>
          TxLog.append(spark, t, Seq((base + i).toLong -> s"w$base-$i").toDF("id", "s"))
        }
      }
    })
    val a = appender(0); val b = appender(1000)
    start.countDown()
    a.get(120, java.util.concurrent.TimeUnit.SECONDS)
    b.get(120, java.util.concurrent.TimeUnit.SECONDS)
    pool.shutdown()
    // every commit landed at a distinct contiguous version
    assert(TxLog.versions(spark, t) == (0L until 2L * perThread),
      TxLog.versions(spark, t).toString)
    val got = TxLog.read(spark, t).collect().map(_.getLong(0)).toSet
    val want = ((0 until perThread) ++ (1000 until 1000 + perThread)).map(_.toLong).toSet
    assert(got == want, s"lost commits: missing ${want -- got}")
  }

  test("OCC: compaction retries past genuinely concurrent appends; nothing lost") {
    val t = freshTable("occ-ac")
    TxLog.append(spark, t, Seq(0L -> "seed").toDF("id", "s"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val start = new java.util.concurrent.CountDownLatch(1)
    val appends = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        (1 to 6).foreach { i =>
          TxLog.append(spark, t, Seq(i.toLong -> s"a$i").toDF("id", "s"))
        }
      }
    })
    val compactions = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        var done = 0
        while (done < 2) {
          try { TxLog.compactClustered(spark, t, files = 2, "id"); done += 1 }
          catch {
            // a compact can lose to ANOTHER compact's commit from this
            // same loop only if interleaved with appends oddly; there is
            // a single compactor here, so a conflict abort would be a bug
            case e: graft.sources.TxLogConcurrentModificationException =>
              fail(s"single compactor must never conflict: ${e.getMessage}")
          }
        }
      }
    })
    start.countDown()
    appends.get(180, java.util.concurrent.TimeUnit.SECONDS)
    compactions.get(180, java.util.concurrent.TimeUnit.SECONDS)
    pool.shutdown()
    val got = TxLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(got == (0L to 6L).toSet, s"rows lost across concurrent compaction: $got")
    // every version in the final log is still time-travel readable
    TxLog.versions(spark, t).foreach { v =>
      assert(TxLog.read(spark, t, Some(v)).count() > 0)
    }
  }

  test("OCC: compact retries over an intervening pure append (deterministic interleaving)") {
    val t = freshTable("occ-det-c")
    TxLog.append(spark, t, Seq(1L -> "a", 2L -> "b").toDF("id", "s"))
    TxLog.append(spark, t, Seq(3L -> "c").toDF("id", "s")) // base = 1
    val base = 1L
    val removes = TxLog.snapshotFiles(spark, t, Some(base))
    // prepare the compacted data exactly as replaceCommit would
    val rel = "data/v00000002-compact-detspec"
    TxLog.read(spark, t).repartition(1)
      .write.parquet(new Path(t, rel).toString)
    val adds = TxLog.writtenFiles(spark, t, rel)
    // an append lands BETWEEN the compactor's snapshot read and commit
    TxLog.append(spark, t, Seq(4L -> "d").toDF("id", "s")) // v2
    val v = TxLog.commitRewrite(spark, t, base, adds, removes, "compact",
      new Path(t, rel))
    assert(v == 3L, s"compact must land after the intervening append, got $v")
    val got = TxLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 4L),
      s"compacted base + concurrent append must both survive: $got")
  }

  test("OCC: compact aborts when an intervening commit removed its files; orphans deleted") {
    val t = freshTable("occ-det-x")
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "s"))
    TxLog.append(spark, t, Seq(2L -> "b").toDF("id", "s")) // base = 1
    val base = 1L
    val removes = TxLog.snapshotFiles(spark, t, Some(base))
    val rel = "data/v00000002-compact-loser"
    TxLog.read(spark, t).repartition(1)
      .write.parquet(new Path(t, rel).toString)
    val adds = TxLog.writtenFiles(spark, t, rel)
    // a competing compaction wins the race (its commit carries removes)
    TxLog.compact(spark, t) // v2, removes the files in `removes`
    val ex = intercept[graft.sources.TxLogConcurrentModificationException] {
      TxLog.commitRewrite(spark, t, base, adds, removes, "compact",
        new Path(t, rel))
    }
    assert(ex.getMessage.contains("compact"), ex.getMessage)
    // the loser's data files were cleaned up, and the table is intact
    val fs = new Path(t, rel)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(t, rel)), "aborted rewrite must delete its orphans")
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("OCC: overwrite is serializable — ANY intervening commit aborts it") {
    val t = freshTable("occ-det-o")
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "s")) // base = 0
    val base = 0L
    val removes = TxLog.snapshotFiles(spark, t, Some(base))
    val rel = "data/v00000001-overwrite-loser"
    Seq(9L -> "z").toDF("id", "s").write.parquet(new Path(t, rel).toString)
    val adds = TxLog.writtenFiles(spark, t, rel)
    // even a PURE APPEND invalidates "replace the table as I read it"
    TxLog.append(spark, t, Seq(2L -> "b").toDF("id", "s")) // v1
    intercept[graft.sources.TxLogConcurrentModificationException] {
      TxLog.commitRewrite(spark, t, base, adds, removes, "overwrite",
        new Path(t, rel))
    }
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "aborted overwrite must leave the table exactly as the winners built it")
  }

  test("OCC: vacuum age horizon protects young unreferenced files; fresh log recheck keeps race winners") {
    val t = freshTable("occ-vac")
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "s"))
    TxLog.compact(spark, t) // v1; v0's files now unreferenced by latest
    // an in-flight writer's data files: written, NOT yet committed
    val inflight = "data/v00000002-inflight"
    Seq(7L -> "g").toDF("id", "s").write.parquet(new Path(t, inflight).toString)
    // a generous horizon refuses to delete ANY young file
    assert(TxLog.vacuum(spark, t, retainLast = 1, minFileAgeMs = 3600000L).isEmpty,
      "hour-old horizon must protect freshly written files")
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(t, inflight)))
    // horizon 0 = the single-writer contract: everything unreferenced goes
    val removed = TxLog.vacuum(spark, t, retainLast = 1, minFileAgeMs = 0L)
    assert(removed.exists(_.startsWith("data/v00000000")),
      s"v0 files must be vacuumed: $removed")
    assert(removed.exists(_.startsWith(inflight)),
      "with no horizon, uncommitted orphans are reclaimed too")
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L))
  }

  // -------------------------------------------------------------------
  // Schema evolution (add-column null backfill, numeric widening; the
  // schema action rides the commit, so time travel gets each version's
  // own schema)
  // -------------------------------------------------------------------

  test("evolution: add-column with null backfill; time travel sees each side's schema") {
    val t = freshTable("evo-add")
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s")) // v0
    val v1 = TxLog.appendEvolve(spark, t,
      Seq((2L, "b", 10)).toDF("id", "s", "score")) // v1 declares the evolved schema
    assert(v1 == 1L)
    val latest = TxLog.read(spark, t)
    assert(latest.columns.toSeq == Seq("id", "s", "score"), latest.columns.mkString(","))
    val rows = latest.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1 else r.getInt(2))).toSet
    assert(rows == Set((1L, "a", -1), (2L, "b", 10)),
      s"old files must read the new column as null: $rows")
    // pinned read BEFORE the evolution: that version's own (old) schema
    assert(TxLog.read(spark, t, Some(0L)).columns.toSeq == Seq("id", "s"))
    assert(TxLog.schemaAt(spark, t, Some(0L)).isEmpty)
    assert(TxLog.schemaAt(spark, t).exists(_.fieldNames.contains("score")))
  }

  test("evolution: numeric widening promotes old files; narrower appends need no new declaration") {
    val t = freshTable("evo-widen")
    TxLog.append(spark, t, Seq((1L, 5)).toDF("id", "n")) // n: int
    TxLog.appendEvolve(spark, t, Seq((2L, 6000000000L)).toDF("id", "n")) // n -> long
    val got = TxLog.read(spark, t)
    assert(got.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 5L), (2L, 6000000000L)),
      "pre-widening int32 files must read promoted to long")
    // a NARROWER frame afterwards is a plain append (int file reads up)
    TxLog.appendEvolve(spark, t, Seq((3, 7)).toDF("id", "n"))
    assert(TxLog.read(spark, t).collect().map(_.getLong(1)).toSet ==
      Set(5L, 6000000000L, 7L))
    // float->double and int->double are in the ladder; string->int is not
    assert(TxLog.widens(org.apache.spark.sql.types.FloatType,
      org.apache.spark.sql.types.DoubleType))
    assert(TxLog.widens(org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.DoubleType))
    assert(!TxLog.widens(org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.DoubleType), "long->double is lossy")
    assert(!TxLog.widens(org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType), "narrowing must be rejected")
  }

  test("evolution: incompatible changes and schema-violating rewrites are loud") {
    val t = freshTable("evo-bad")
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    TxLog.appendEvolve(spark, t, Seq((2L, "b", 1.5)).toDF("id", "s", "q"))
    // type change outside the ladder
    val e1 = intercept[IllegalArgumentException](
      TxLog.appendEvolve(spark, t, Seq(("x", "y")).toDF("id", "s")))
    assert(e1.getMessage.contains("incompatible schema change"), e1.getMessage)
    // a rewrite may not smuggle in an undeclared column
    val e2 = intercept[IllegalArgumentException](
      TxLog.overwrite(spark, t, Seq((9L, "z", 0.1, true)).toDF("id", "s", "q", "extra")))
    assert(e2.getMessage.contains("absent from the declared schema"), e2.getMessage)
    // ...and neither may a PLAIN append (the common write path: a read
    // under the declared schema would silently drop the column forever)
    val e3 = intercept[IllegalArgumentException](
      TxLog.append(spark, t, Seq((9L, "z", 0.1, true)).toDF("id", "s", "q", "extra")))
    assert(e3.getMessage.contains("absent from the declared schema"), e3.getMessage)
    // a narrowing append fails loudly at commit time, not at scan time
    val e4 = intercept[IllegalArgumentException](
      TxLog.append(spark, t, Seq(("x", "y", 0.5)).toDF("id", "s", "q")))
    assert(e4.getMessage.contains("cannot read"), e4.getMessage)
    // the idempotent (streaming) append enforces the same guard
    val e5 = intercept[IllegalArgumentException](
      TxLog.appendIdempotent(spark, t,
        Seq((9L, "z", 0.1, true)).toDF("id", "s", "q", "extra"), "app-evo", 0L))
    assert(e5.getMessage.contains("absent from the declared schema"), e5.getMessage)
    // nothing committed by the failures
    assert(TxLog.versions(spark, t) == Seq(0L, 1L))
  }

  test("evolution: compaction under a declared schema; checkpoints carry it") {
    val t = freshTable("evo-compact")
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    TxLog.appendEvolve(spark, t, Seq((2L, "b", 10)).toDF("id", "s", "score"))
    TxLog.compact(spark, t) // reads under the declared schema, lands wide files
    val afterCompact = TxLog.read(spark, t).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2))).toSet
    assert(afterCompact == Set((1L, -1), (2L, 10)))
    // push past the checkpoint cadence: the ckpt must carry the schema
    (3L to 13L).foreach(i =>
      TxLog.append(spark, t, Seq((i, s"x$i", i.toInt)).toDF("id", "s", "score")))
    assert(TxLog.versions(spark, t).last >= TxLog.checkpointEvery)
    val late = TxLog.read(spark, t)
    assert(late.columns.toSeq == Seq("id", "s", "score"))
    assert(late.count() == 13)
    assert(TxLog.schemaAt(spark, t).exists(_.fieldNames.contains("score")),
      "schemaAt must survive the checkpoint-plus-suffix replay")
  }

  test("evolution: readChanges across the evolution boundary aligns slices") {
    val t = freshTable("evo-cdf")
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    TxLog.appendEvolve(spark, t, Seq((2L, "b", 10)).toDF("id", "s", "score"))
    val changes = TxLog.readChanges(spark, t, fromExclusive = -1L, toInclusive = 1L)
    assert(changes.columns.toSeq == Seq("id", "s", "score", "_commit_version"))
    val got = changes.collect().map(r => (r.getLong(0),
      if (r.isNullAt(2)) -1 else r.getInt(2), r.getLong(3))).toSet
    assert(got == Set((1L, -1, 0L), (2L, 10, 1L)),
      s"pre-evolution slice must read the new column as null: $got")
  }

  test("evolution: an evolving append to a PARTITIONED BY table records its values") {
    val t = freshTable("evo-part")
    val rows = Seq(("de", 1L), ("en", 2L)).toDF("lang", "v")
    TxLog.createTablePartitioned(spark, t, rows.schema, Seq("lang"))
    TxLog.append(spark, t, rows)
    TxLog.appendEvolve(spark, t,
      Seq(("de", 3L, "x"), ("fr", 4L, "y")).toDF("lang", "v", "note"))
    val live = TxLog.snapshotFiles(spark, t)
    val pv = TxLog.partitionValuesAt(spark, t, "lang")
    assert(live.size == 4 && live.toSet == pv.keySet,
      s"every file must record its declared partition value: $pv")
    val (kept, total) = Skipping.kept(spark, t, Seq(EqualTo("lang", "de")))
    assert(total == 4 && kept.toSet == pv.collect { case (f, "de") => f }.toSet,
      s"a partition probe must keep only the de files: kept $kept of $pv")
    val got = TxLog.read(spark, t).collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(got == Set(("de", 1L, None), ("en", 2L, None),
      ("de", 3L, Some("x")), ("fr", 4L, Some("y"))))
  }

  test("evolution: two concurrent evolvers — one wins, or the loser aborts; never silent loss") {
    val t = freshTable("evo-race")
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val start = new java.util.concurrent.CountDownLatch(1)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    def evolver(colName: String, id: Long) = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try TxLog.appendEvolve(spark, t,
          Seq((id, "x", 1)).toDF("id", "s", colName))
        catch {
          case _: graft.sources.TxLogConcurrentModificationException =>
            conflicts.incrementAndGet()
        }
      }
    })
    val a = evolver("colA", 10L); val b = evolver("colB", 11L)
    start.countDown()
    a.get(120, java.util.concurrent.TimeUnit.SECONDS)
    b.get(120, java.util.concurrent.TimeUnit.SECONDS)
    pool.shutdown()
    val schema = TxLog.schemaAt(spark, t)
    val cols = schema.map(_.fieldNames.toSet).getOrElse(Set.empty)
    if (conflicts.get == 0) {
      // serialized cleanly: the second merged on top of the first
      assert(cols.contains("colA") && cols.contains("colB"), cols.toString)
      assert(TxLog.read(spark, t).count() == 3)
    } else {
      // the loser aborted loudly and committed nothing
      assert(conflicts.get == 1, "at most one of two evolvers can lose")
      assert(cols.contains("colA") ^ cols.contains("colB"), cols.toString)
      assert(TxLog.read(spark, t).count() == 2)
    }
  }

  test("qwTxlogRead: the full lifecycle reads back as exactly the source table") {
    val got = graft.operators.Merge.qwTxlogRead(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val want = graft.sources.Tables.documents(spark, sfTiny)
      .select("doc_id", "lang").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == want.toSeq,
      s"${got.length} vs ${want.length} rows; first diff: " +
        got.zip(want).find(p => p._1 != p._2).toString)
  }

  test("data skipping: stats ride the commit, prune files, and never change rows") {
    val t = freshTable("stats")
    // three range-disjoint appends, 2 files each (repartitionByRange)
    Seq((0L, 100L), (100L, 200L), (200L, 300L)).foreach { case (lo, hi) =>
      TxLog.append(spark, t,
        (lo until hi).map(i => (i, s"r$i")).toDF("id", "s")
          .repartitionByRange(2, $"id"), Layout(stats = Seq("id")))
    }
    val stats = TxLog.statsAt(spark, t, "id")
    assert(stats.size == 6, s"all six files must carry stats: $stats")
    // a window inside the first third prunes to ≤ 2 of 6 files
    val (kept, live) = Skipping.kept(spark, t, Skipping.between("id", 10, 60))
    assert(live == 6 && kept.size <= 2, s"kept ${kept.size} of $live")
    // pruned read ≡ full-scan filter, rows exact
    val got = TxLog.read(spark, t).where(col("id").between(10, 60))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (10L to 60L), "skip decides files, never rows")
    // a file WITHOUT stats can never be skipped: plain append is opaque
    TxLog.append(spark, t, Seq((999L, "x")).toDF("id", "s"))
    val (kept2, live2) = Skipping.kept(spark, t, Skipping.between("id", 10, 60))
    assert(live2 == 7 && kept2.size == kept.size + 1,
      "the stats-less file must be conservatively kept")
    assert(TxLog.read(spark, t).where(col("id").between(900, 1000))
      .collect().map(_.getLong(0)).toSeq == Seq(999L))
  }

  test("data skipping: stats survive checkpoints and clustered re-compaction re-records them") {
    val t = freshTable("stats-ckpt")
    // 12 commits → past the checkpoint cadence (10)
    (0 until 12).foreach { i =>
      TxLog.append(spark, t,
        Seq(((i * 10).toLong, s"a$i"), ((i * 10 + 9).toLong, s"b$i"))
          .toDF("id", "s").coalesce(1), Layout(stats = Seq("id")))
    }
    assert(TxLog.checkpointVersions(spark, t).nonEmpty, "cadence must have checkpointed")
    // replay goes ckpt+suffix; every live file still has its stats
    assert(TxLog.statsAt(spark, t, "id").size ==
      TxLog.snapshotFiles(spark, t).size)
    val (kept, live) = Skipping.kept(spark, t, Skipping.between("id", 0, 9))
    assert(kept.size == 1 && live == 12, s"kept ${kept.size} of $live")
    // clustered rewrite re-records stats for the new disjoint layout
    TxLog.compactClusteredWithStats(spark, t, files = 3, "id")
    val (kept2, live2) = Skipping.kept(spark, t, Skipping.between("id", 0, 9))
    assert(live2 == 3 && kept2.size == 1,
      s"after clustered compact: kept ${kept2.size} of $live2")
    assert(TxLog.read(spark, t).where(col("id").between(0, 9))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 9L))
    // time travel: stats as of the pre-compact version still prune there
    val preCompact = TxLog.versions(spark, t).takeRight(2).head
    val (kept3, live3) = Skipping.kept(spark, t, Skipping.between("id", 0, 9),
      Some(preCompact))
    assert(live3 == 12 && kept3.size == 1, "pinned-version pruning must use that version's stats")
  }

  test("deleteWhere: a partial rewrite — untouched files survive byte-identical, pinned reads keep the past") {
    val t = freshTable("delete")
    Seq((0L, 100L), (100L, 200L), (200L, 300L)).foreach { case (lo, hi) =>
      TxLog.append(spark, t,
        (lo until hi).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
        Layout(stats = Seq("id")))
    }
    val before = TxLog.snapshotFiles(spark, t)
    assert(before.size == 3)
    val preVersion = TxLog.latestVersion(spark, t)
    // erase [120, 150] — only the middle file's range intersects
    val v = TxLog.deleteWhere(spark, t, "id", 120, 150)
    assert(v == preVersion + 1)
    val after = TxLog.snapshotFiles(spark, t)
    assert(after.toSet.intersect(before.toSet) == (before.toSet - before(1)),
      "files whose stats exclude the range must survive as the SAME paths")
    assert(TxLog.read(spark, t).count() == 300L - 31L)
    assert(TxLog.read(spark, t).filter($"id".between(120, 150)).count() == 0L)
    // boundary rows survive; the rest of the touched file was rewritten intact
    assert(TxLog.read(spark, t).filter($"id".isin(119L, 151L)).count() == 2L)
    // pinned pre-delete read still sees everything (copy-on-write)
    assert(TxLog.read(spark, t, Some(preVersion)).count() == 300L)
    // rewritten file carries fresh stats spanning the hole (min/max can't
    // express a gap — inherent to range stats): a read inside the erased
    // range keeps ONLY that file and still returns zero rows exactly
    val (keptGap, liveGap) = Skipping.kept(spark, t, Skipping.between("id", 125, 145))
    assert(keptGap.size == 1 && liveGap == 3,
      s"only the rewritten file may survive the prune: $keptGap")
    assert(TxLog.read(spark, t).where(col("id").between(125, 145)).count() == 0L)
    // a delete whose range no live stats intersect is a no-op (no commit)
    val v2 = TxLog.deleteWhere(spark, t, "id", 5000, 6000)
    assert(v2 == v && TxLog.latestVersion(spark, t) == v, "no-op delete must not commit")
    // MatView across a delete: the signed CDF fold keeps the view exact
    // (r13: delete commits fold invertibly instead of recomputing)
    val mv = freshTable("delete-mv")
    assert(graft.operators.MatView.refresh(spark, t, mv, Seq("s"), "id") == "build")
    TxLog.deleteWhere(spark, t, "id", 0, 50)
    assert(graft.operators.MatView.refresh(spark, t, mv, Seq("s"), "id") == "incremental-delete")
    assert(TxLog.read(spark, mv).count() == TxLog.read(spark, t).count(),
      "per-unique-key view must match the post-delete table")
  }

  test("deleteWhereMor: deletion vectors mask rows without touching data files; compact materializes") {
    val t = freshTable("mor")
    Seq((0L, 100L), (100L, 200L), (200L, 300L)).foreach { case (lo, hi) =>
      TxLog.append(spark, t,
        (lo until hi).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
        Layout(stats = Seq("id")))
    }
    val before = TxLog.snapshotFiles(spark, t)
    val preVersion = TxLog.latestVersion(spark, t)
    // erase [120, 150] merge-on-read — only the middle file can match
    val v = TxLog.deleteWhereMor(spark, t, "id", 120, 150)
    assert(v == preVersion + 1)
    assert(TxLog.snapshotFiles(spark, t) == before,
      "MOR delete must not add, remove, or rewrite any data file")
    val dv1 = TxLog.dvAt(spark, t)
    assert(dv1.keySet == Set(before(1)),
      s"exactly the middle file must be masked: $dv1")
    assert(TxLog.read(spark, t).count() == 300L - 31L)
    assert(TxLog.read(spark, t).filter($"id".between(120, 150)).count() == 0L)
    assert(TxLog.read(spark, t).filter($"id".isin(119L, 151L)).count() == 2L)
    // pinned pre-delete read: no vector applies at that version
    assert(TxLog.read(spark, t, Some(preVersion)).count() == 300L)
    // a skipping read honors the vectors on its kept files too
    assert(TxLog.read(spark, t).where(col("id").between(110, 160)).count() ==
      (110L to 160L).size - 31L)
    // second OVERLAPPING delete re-masks the same file: positions union
    TxLog.deleteWhereMor(spark, t, "id", 140, 180)
    assert(TxLog.snapshotFiles(spark, t) == before)
    assert(TxLog.read(spark, t).filter($"id".between(120, 180)).count() == 0L,
      "the re-bound vector must carry the first delete's positions forward")
    assert(TxLog.read(spark, t).count() == 300L - 61L)
    // a MOR delete is a data change: the change feed refuses the range
    intercept[IllegalArgumentException] {
      TxLog.readChanges(spark, t, preVersion, TxLog.latestVersion(spark, t)).count()
    }
    // MatView folds the MOR delete signed (r13: no recompute for deletes)
    val mv = freshTable("mor-mv")
    assert(graft.operators.MatView.refresh(spark, t, mv, Seq("s"), "id") == "build")
    TxLog.deleteWhereMor(spark, t, "id", 200, 220)
    assert(graft.operators.MatView.refresh(spark, t, mv, Seq("s"), "id") == "incremental-delete")
    assert(TxLog.read(spark, mv).count() == TxLog.read(spark, t).count())
    // compact MATERIALIZES the vectors: clean files, no bindings, same rows
    val preCompactCount = TxLog.read(spark, t).count()
    TxLog.compact(spark, t)
    assert(TxLog.dvAt(spark, t).isEmpty, "compaction must drop the masks with the files")
    assert(TxLog.read(spark, t).count() == preCompactCount)
    assert(TxLog.read(spark, t).filter($"id".between(120, 180)).count() == 0L)
    // a MOR delete that matches nothing commits nothing
    val tail = TxLog.latestVersion(spark, t)
    assert(TxLog.deleteWhereMor(spark, t, "id", 5000, 6000) == tail)
    assert(TxLog.latestVersion(spark, t) == tail)
  }

  test("deleteWhereMor: vectors survive checkpoints and vacuum keeps referenced sidecars") {
    val t = freshTable("mor-ckpt")
    TxLog.append(spark, t,
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      Layout(stats = Seq("id")))
    TxLog.deleteWhereMor(spark, t, "id", 10, 19)
    // cross the checkpoint cadence with plain appends: the ckpt must
    // carry the dv binding, or the suffix replay would resurrect rows
    (0 until TxLog.checkpointEvery.toInt).foreach { i =>
      TxLog.append(spark, t, Seq((1000L + i, "x")).toDF("id", "s"))
    }
    assert(TxLog.checkpointVersions(spark, t).nonEmpty)
    assert(TxLog.read(spark, t).filter($"id".between(10, 19)).count() == 0L,
      "checkpoint replay lost the deletion-vector binding")
    // vacuum with an aggressive horizon: the sidecar is REFERENCED by the
    // latest snapshot's binding and must survive
    TxLog.vacuum(spark, t, retainLast = 1, minFileAgeMs = 0L)
    assert(TxLog.read(spark, t).filter($"id".between(10, 19)).count() == 0L,
      "vacuum reclaimed a live deletion-vector sidecar")
    assert(TxLog.read(spark, t).count() == 90L + TxLog.checkpointEvery)
    // after a compact (vectors materialized), a further vacuum may drop
    // the now-unreferenced sidecar — and reads stay exact
    TxLog.compact(spark, t)
    TxLog.vacuum(spark, t, retainLast = 1, minFileAgeMs = 0L)
    assert(TxLog.read(spark, t).count() == 90L + TxLog.checkpointEvery)
  }

  test("multi-column pruning: AND of ranges skips on every recorded column; absence cannot skip") {
    val t = freshTable("multistats")
    // 2x2 grid: two a-ranges x two b-ranges, one file each
    Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L)).foreach { case (ai, bi) =>
      val rows = (0L until 50L).map { k =>
        (ai * 1000L + k, bi * 1000L + k, s"$ai-$bi-$k")
      }
      TxLog.append(spark, t, rows.toDF("a", "b", "s").coalesce(1),
        Layout(stats = Seq("a", "b")))
    }
    // box over a-range 0, b-range 1: exactly one of four files survives
    val box = Seq(("a", 0L, 100L), ("b", 1000L, 1100L))
    val (kept, live) = Skipping.kept(spark, t, Skipping.ranges(box))
    assert(live == 4 && kept.size == 1, s"$kept of $live")
    val got = TxLog.read(spark, t).where(col("a").between(0L, 100L) && col("b").between(1000L, 1100L))
    assert(got.count() == 50L)
    // a predicate on a column with NO recorded stats keeps every file
    val (keptNoStats, _) = Skipping.kept(spark, t, Skipping.ranges(Seq(("nope", 0L, 1L))))
    assert(keptNoStats.size == 4, "absence of stats must never skip")
  }

  test("column mapping: rename is metadata-only; stats, pruning, and appends follow the new name") {
    val t = freshTable("rename")
    TxLog.append(spark, t,
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      Layout(stats = Seq("id")))
    TxLog.append(spark, t,
      (100L until 200L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      Layout(stats = Seq("id")))
    val preFiles = TxLog.snapshotFiles(spark, t)
    val preRename = TxLog.latestVersion(spark, t)
    TxLog.renameColumn(spark, t, "id", "key")
    assert(TxLog.snapshotFiles(spark, t) == preFiles,
      "rename must move zero data files")
    assert(TxLog.read(spark, t).columns.toSeq == Seq("key", "s"))
    // stats recorded under the OLD name still prune via the new one
    val (kept, live) = Skipping.kept(spark, t, Skipping.between("key", 0, 50))
    assert(live == 2 && kept.size == 1, s"$kept of $live")
    assert(TxLog.read(spark, t).where(col("key").between(0, 50)).count() == 51L)
    // appends under the new name carry stats that compose with the old
    TxLog.append(spark, t,
      (200L until 300L).map(i => (i, s"r$i")).toDF("key", "s").coalesce(1),
      Layout(stats = Seq("key")))
    assert(TxLog.read(spark, t).where(col("key").between(150, 250)).count() == 101L)
    val (kept3, live3) = Skipping.kept(spark, t, Skipping.between("key", 250, 260))
    assert(live3 == 3 && kept3.size == 1)
    // the old name is gone: appending under it fails loudly
    intercept[IllegalArgumentException](
      TxLog.append(spark, t, Seq((1L, "x")).toDF("id", "s")))
    // time travel below the rename reads the old name
    assert(TxLog.read(spark, t, Some(preRename)).columns.toSeq == Seq("id", "s"))
    // the change feed ACROSS the boundary aligns slices under range-end names
    val feed = TxLog.readChanges(spark, t, -1L, TxLog.latestVersion(spark, t))
    assert(feed.columns.contains("key") && !feed.columns.contains("id"))
    assert(feed.count() == 300L)
    // compaction under mapping: physical layout rewritten, reads stable
    TxLog.compactClusteredWithStats(spark, t, 3, "key")
    assert(TxLog.read(spark, t).count() == 300L)
    assert(TxLog.read(spark, t).where(col("key").between(0, 50)).count() == 51L)
  }

  test("column mapping: drop hides the column; re-add never resurrects dropped data") {
    val t = freshTable("drop")
    TxLog.append(spark, t,
      Seq((1L, "secret1"), (2L, "secret2")).toDF("id", "s"))
    TxLog.dropColumn(spark, t, "s")
    assert(TxLog.read(spark, t).columns.toSeq == Seq("id"))
    // time travel below the drop still reads it
    assert(TxLog.read(spark, t, Some(0L)).columns.toSeq == Seq("id", "s"))
    // re-ADD the same name: fresh physical — old rows are NULL, not
    // the dropped secrets still sitting in version 0's file
    TxLog.appendEvolve(spark, t, Seq((3L, "fresh")).toDF("id", "s"))
    val rows = TxLog.read(spark, t).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(rows == Set((1L, None), (2L, None), (3L, Some("fresh"))),
      s"dropped data resurrected: $rows")
    // the only column cannot be dropped
    val t1 = freshTable("droponly")
    TxLog.append(spark, t1, Seq(1L).toDF("id"))
    intercept[IllegalArgumentException](TxLog.dropColumn(spark, t1, "id"))
    // deletes keyed on a renamed column work end to end (physical filter)
    TxLog.renameColumn(spark, t, "id", "key")
    TxLog.deleteWhereMor(spark, t, "key", 2, 2)
    assert(TxLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("column mapping: the stream resolves renamed columns via the physical lookup") {
    val t = freshTable("renstream")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-txlog-ckpt3").toString
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    TxLog.renameColumn(spark, t, "id", "key")
    TxLog.append(spark, t, Seq((2L, "b")).toDF("key", "s"))
    val got = collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-txlog").load(t)
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = df.collect().toSeq.map(_.getLong(0))
          got.synchronized { got ++= rows }; ()
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(got.synchronized(got.toSet) == Set(1L, 2L),
        s"stream must deliver both sides of the rename: $got")
    } finally q.stop()
  }

  test("string data skipping: UTF-8 byte bounds prune files and never change rows") {
    val t = freshTable("strstats")
    Seq(("a", "f"), ("g", "m"), ("n", "z")).zipWithIndex.foreach { case ((lo, hi), i) =>
      val rows = (0 until 40).map(k => (i * 100L + k, s"$lo-word-$k"))
      TxLog.append(spark, t, rows.toDF("id", "s").coalesce(1), Layout(stats = Seq("s")))
    }
    val (kept, live) = Skipping.kept(spark, t, Skipping.between("s", "a", "f"))
    assert(live == 3 && kept.size == 1, s"$kept of $live")
    assert(TxLog.read(spark, t).where(col("s").between("a", "f")).count() == 40L)
    // a range spanning two files' bounds keeps exactly those two
    val (kept2, _) = Skipping.kept(spark, t, Skipping.between("s", "a", "h"))
    assert(kept2.size == 2)
    // stats-less files are conservatively kept: a plain append joins in
    TxLog.append(spark, t, Seq((999L, "zz")).toDF("id", "s"))
    val (kept3, live3) = Skipping.kept(spark, t, Skipping.between("s", "a", "f"))
    assert(live3 == 4 && kept3.size == 2, "absence of stats must never skip")
    assert(TxLog.read(spark, t).where(col("s").between("a", "f")).count() == 40L)
    // skip decides files, never rows: equals the plain filtered read
    assert(TxLog.read(spark, t).where(col("s").between("e", "h")).count() ==
      TxLog.read(spark, t).filter($"s".between("e", "h")).count())
  }

  test("optimizeBinPack: rewrites only the small tail; large files, rows, and MV folds untouched") {
    val t = freshTable("binpack")
    // one big file + 6 small ones
    TxLog.append(spark, t, (0L until 5000L).map(i => (i, s"row$i")).toDF("id", "s").coalesce(1))
    (0 until 6).foreach(r => TxLog.append(spark, t,
      Seq((5000L + r, s"tiny$r")).toDF("id", "s").coalesce(1)))
    // a MOR delete masks one small file's row: the pack must materialize it
    TxLog.append(spark, t,
      Seq((9000L, "victim"), (9001L, "keeper")).toDF("id", "s").coalesce(1),
      Layout(stats = Seq("id")))
    TxLog.deleteWhereMor(spark, t, "id", 9000L, 9000L)
    // and a MatView watching the table must stay incremental across the pack
    val mv = freshTable("binpack-mv")
    assert(graft.operators.MatView.refresh(spark, t, mv, Seq("s"), "id") == "build")
    val before = TxLog.snapshotFiles(spark, t)
    val big = before.head
    val bigLen = new java.io.File(t, big).length()
    val preRows = TxLog.read(spark, t).count()
    val v = TxLog.optimizeBinPack(spark, t, targetBytes = bigLen)
    val after = TxLog.snapshotFiles(spark, t)
    assert(after.contains(big), "large file must survive the pack untouched")
    assert(after.size < before.size)
    assert(TxLog.read(spark, t).count() == preRows, "pack changed rows")
    assert(TxLog.read(spark, t).filter($"id" === 9000L).count() == 0L,
      "pack resurrected a MOR-deleted row")
    assert(TxLog.dvAt(spark, t).isEmpty,
      "packed small files must shed their deletion vectors")
    assert(TxLog.commitKind(spark, t, v).contains("compact"))
    // change feed and MV treat the pack as a compaction (row-invisible)
    assert(graft.operators.MatView.refresh(spark, t, mv, Seq("s"), "id") == "noop",
      "bin-packing must not force an MV recompute")
    // nothing to pack → commit-free no-op
    assert(TxLog.optimizeBinPack(spark, t, targetBytes = 1L) == v)
    // pinned pre-pack read replays the original files (with the mask)
    assert(TxLog.read(spark, t, Some(v - 1)).count() == preRows)
  }

  test("plan pin: the deletion-vector mask is a filter in the scan's own stage, never a join or an exchange") {
    val t = freshTable("dvplan")
    TxLog.append(spark, t,
      (0L until 500L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      Layout(stats = Seq("id")))
    TxLog.deleteWhereMor(spark, t, "id", 10, 20)
    val read = TxLog.read(spark, t)
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("txlog_dv_masked"), s"dv mask must filter the scan:\n$p")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"dv mask joined or shuffled:\n$p")
    assert(read.count() == 489L)
  }

  test("restore: metadata-only rollback across deletes, masks, and a rename; history preserved") {
    val t = freshTable("restore")
    TxLog.append(spark, t,
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      Layout(stats = Seq("id")))
    TxLog.append(spark, t,
      (100L until 200L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      Layout(stats = Seq("id")))
    val good = TxLog.latestVersion(spark, t)
    val goodFiles = TxLog.snapshotFiles(spark, t)
    // damage: CoW delete + MOR mask + a RENAME
    TxLog.deleteWhere(spark, t, "id", 0, 10)
    TxLog.deleteWhereMor(spark, t, "id", 150, 160)
    TxLog.renameColumn(spark, t, "s", "txt")
    assert(TxLog.read(spark, t).columns.toSeq == Seq("id", "txt"))
    val rv = TxLog.restore(spark, t, good)
    assert(TxLog.snapshotFiles(spark, t).toSet == goodFiles.toSet,
      "restore must re-add exactly the target's paths (zero data movement)")
    assert(TxLog.dvAt(spark, t).isEmpty, "restore must unbind rolled-back masks")
    assert(TxLog.read(spark, t).count() == 200L)
    assert(TxLog.read(spark, t).columns.toSeq == Seq("id", "s"),
      "restore must re-declare the target's schema (the rename rolls back)")
    // history preserved: the damaged versions still time travel
    assert(TxLog.read(spark, t, Some(rv - 1)).columns.toSeq == Seq("id", "txt"))
    assert(TxLog.read(spark, t, Some(rv - 1)).count() == 200L - 11L - 11L)
    // restoring to the head is a commit-free no-op
    assert(TxLog.restore(spark, t, rv) == rv &&
      TxLog.latestVersion(spark, t) == rv)
    // writes keep working after the restore (schema + stats composing)
    TxLog.append(spark, t,
      Seq((500L, "post")).toDF("id", "s").coalesce(1), Layout(stats = Seq("id")))
    assert(TxLog.read(spark, t).where(col("id").between(500, 500)).count() == 1L)
  }

  test("history + timestamp time travel: per-commit kinds and a monotone clock mapping") {
    val t = freshTable("history")
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    Thread.sleep(30)
    val midTs = System.currentTimeMillis()
    Thread.sleep(30)
    TxLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
    TxLog.compact(spark, t)
    TxLog.deleteWhereMor(spark, t, "id", 2, 2)
    TxLog.renameColumn(spark, t, "s", "txt")
    val h = TxLog.history(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h == Map(0L -> "append", 1L -> "append", 2L -> "compact",
      3L -> "delete", 4L -> "schema-change"), h.toString)
    // timestamps are monotone non-decreasing
    val ts = TxLog.history(spark, t).collect().map(_.getLong(7)).toSeq
    assert(ts == ts.sorted, s"history timestamps must be monotone: $ts")
    // timestamp travel: midTs falls after commit 0, before commit 1
    assert(TxLog.versionAtTime(spark, t, midTs) == 0L)
    assert(TxLog.readAsOfTime(spark, t, midTs).count() == 1L)
    assert(TxLog.versionAtTime(spark, t, System.currentTimeMillis()) == 4L)
    intercept[IllegalArgumentException](TxLog.versionAtTime(spark, t, 1000L))
  }

  test("OCC: two concurrent idempotent appends of the SAME batch land exactly once") {
    (1 to 3).foreach { round =>
      val t = freshTable(s"dup$round")
      TxLog.append(spark, t, Seq((0L, "seed")).toDF("id", "s")) // non-empty table
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val start = new java.util.concurrent.CountDownLatch(1)
      val landed = new java.util.concurrent.atomic.AtomicInteger(0)
      def writer(tag: String) = pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          // both writers REPLAY batch 7 of the same app — the zombie-twin
          // window the initial check-then-act cannot close alone
          val v = TxLog.appendIdempotent(spark, t,
            Seq((100L, tag)).toDF("id", "s"), "zombie", 7L)
          if (v.isDefined) landed.incrementAndGet()
          ()
        }
      })
      val (w1, w2) = (writer("a"), writer("b"))
      start.countDown()
      w1.get(); w2.get(); pool.shutdown()
      assert(landed.get() == 1,
        s"round $round: batch must land exactly once, landed ${landed.get()}")
      assert(TxLog.read(spark, t).filter($"id" === 100L).count() == 1L,
        s"round $round: duplicate batch visible in the table")
      assert(TxLog.lastCommittedBatch(spark, t, "zombie").contains(7L))
    }
  }

  test("OCC: two forked JVM processes appending to one table — exactly-once version assignment") {
    val t = freshTable("xproc")
    // seed so both children race on a real log
    TxLog.append(spark, t, Seq(-1L).toDF("id"))
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def launch(base: Long, count: Int): Process = {
      val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx1g", "-Dspark.ui.enabled=false", "-cp", cp,
        "graft.TxLogForkChild", t, base.toString, count.toString))
      new ProcessBuilder(cmd: _*).inheritIO().start()
    }
    val (p1, p2) = (launch(1000L, 4), launch(2000L, 4))
    assert(p1.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) && p1.exitValue() == 0,
      "child 1 failed")
    assert(p2.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) && p2.exitValue() == 0,
      "child 2 failed")
    // exactly-once version assignment across PROCESSES: 1 seed + 8 appends,
    // gap-free version sequence, every row present exactly once
    val vs = TxLog.versions(spark, t)
    assert(vs == (0L to 8L), s"versions must be gap-free and distinct: $vs")
    val ids = TxLog.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (Seq(-1L) ++ (1000L to 1003L) ++ (2000L to 2003L)),
      s"every child's every commit exactly once: $ids")
  }

  test("MOR delete matching nothing on an already-masked scope commits nothing, mask intact (r17)") {
    val t = freshTable("mor-nomatch-masked")
    TxLog.append(spark, t,
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    TxLog.deleteWhereMorExpr(spark, t, "id < 10")
    val v = TxLog.latestVersion(spark, t)
    assert(TxLog.dvAt(spark, t).nonEmpty,
      "fixture needs a live prior vector in scope")
    // the fused r17 match probe must read "zero NEW positions" even though
    // the scope's PRIOR vectors are nonempty — a no-op, not a rebind
    assert(TxLog.deleteWhereMorExpr(spark, t, "id > 5000") == v,
      "a no-match delete over a masked scope must not commit")
    assert(TxLog.latestVersion(spark, t) == v)
    assert(TxLog.read(spark, t).count() == 90L,
      "the prior mask must survive the no-op unchanged")
  }
}
