package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog
import graft.sources.TxLog.Layout

/** The `graft-txlog` streaming source's CHANGE-FEED mode
  * (`readChangeFeed=true`), pinned: insert/delete image delivery per
  * commit kind, exact signed-fold downstream maintenance across MOR
  * deletes and merges, compaction invisibility, offset-restart safety,
  * and the loud rewrite contract. */
class StreamingCdfSpec extends SparkSpec {
  import spark.implicits._

  private def cdfStream(t: String, ck: String,
                        sink: (org.apache.spark.sql.DataFrame, Long) => Unit) =
    spark.readStream.format("graft-txlog")
      .option("readChangeFeed", "true")
      .load(t)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch(sink).outputMode("append").start()

  test("streaming CDF: MOR deletes and merges consumed incrementally; signed fold ≡ batch") {
    val base = java.nio.file.Files.createTempDirectory("graft-scdf").toString
    val t = s"$base/t"
    TxLog.append(spark, t,
      Seq(("a", 1L), ("a", 5L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    // downstream: a running (cnt, total) per key maintained by SIGN —
    // the invertible-consumer shape the CDF exists for
    val state = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = cdfStream(t, s"$base/ck", (df, id) => {
      batches += id
      df.collect().foreach { r =>
        val (k, v) = (r.getString(0), r.getLong(1))
        val s = if (r.getString(r.fieldIndex("_change_type")) == "insert") 1L else -1L
        val (c0, t0) = state.getOrElse(k, (0L, 0L))
        val nxt = (c0 + s, t0 + s * v)
        if (nxt._1 == 0L) state.remove(k) else state(k) = nxt
        ()
      }
    })
    def expected: Map[String, (Long, Long)] =
      TxLog.read(spark, t).groupBy("k")
        .agg(count(lit(1)).as("c"), sum("v").as("t")).collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    try {
      q.processAllAvailable()
      assert(state.toMap == expected, "insert wave must fold in")
      TxLog.deleteWhereMorExpr(spark, t, "v = 5") // masks one 'a' row
      q.processAllAvailable()
      assert(state.toMap == expected, "the MOR delete must fold out, signed")
      assert(state("a") == ((1L, 1L)))
      TxLog.compact(spark, t) // must deliver nothing
      val snapshot = state.toMap
      q.processAllAvailable()
      assert(state.toMap == snapshot, "a compaction must deliver no change rows")
      // MOR merge: supersede b, insert d — delete(old b) + insert(new b, d)
      TxLog.mergeMor(spark, t, Seq(("b", 20L), ("d", 7L)).toDF("k", "v"), Seq("k"))
      q.processAllAvailable()
      assert(state.toMap == expected, "the merge must fold as delete+insert")
      assert(state("b") == ((1L, 20L)) && state("d") == ((1L, 7L)))
      // a REPEAT delete delivers only the newly-masked positions
      TxLog.deleteWhereMorExpr(spark, t, "v <= 3") // a(1), c(3) newly; b's old row already masked
      q.processAllAvailable()
      assert(state.toMap == expected)
      assert(!state.contains("a") && !state.contains("c"),
        "fully-deleted keys must leave the fold")
    } finally q.stop()
    // restart from the checkpoint: nothing replays (offsets are commits)
    val replayed = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = cdfStream(t, s"$base/ck", (df, _) => { replayed += df.count(); () })
    try {
      q2.processAllAvailable()
      assert(replayed.forall(_ == 0L), s"restart must deliver nothing: $replayed")
    } finally q2.stop()
  }

  test("replicate: a TxLog table mirrors into another through its own change feed, exactly") {
    import graft.streaming.StreamingCdc
    val base = java.nio.file.Files.createTempDirectory("graft-repl").toString
    val (src, dst) = (s"$base/src", s"$base/dst")
    def srcRows = TxLog.read(spark, src).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    def dstRows = TxLog.read(spark, dst).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    TxLog.append(spark, src, Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    val q = StreamingCdc.replicate(spark, src, dst, Seq("k"), s"$base/ck")
    try {
      q.processAllAvailable()
      assert(dstRows == srcRows, "replica must mirror the initial append")
      // a lifecycle of MOR delete, merge, compaction, and a late append
      TxLog.deleteWhereMorExpr(spark, src, "k = 'b'")
      TxLog.mergeMor(spark, src, Seq(("a", 10L), ("d", 4L)).toDF("k", "v"), Seq("k"))
      TxLog.compact(spark, src)
      TxLog.append(spark, src, Seq(("e", 5L)).toDF("k", "v"))
      q.processAllAvailable()
      assert(dstRows == srcRows, "replica must trail deletes, merges, and appends")
      assert(dstRows == Seq(("a", 10L), ("c", 3L), ("d", 4L), ("e", 5L)))
    } finally q.stop()
    // restart: offsets are source commits — nothing replays, no new versions
    val before = TxLog.versions(spark, dst)
    val q2 = StreamingCdc.replicate(spark, src, dst, Seq("k"), s"$base/ck")
    try q2.processAllAvailable() finally q2.stop()
    assert(TxLog.versions(spark, dst) == before,
      "an idle replication restart must not create replica versions")
  }

  test("a pure-metadata DROP PARTITION streams whole-file delete images; replication mirrors it") {
    import graft.streaming.StreamingCdc
    val base = java.nio.file.Files.createTempDirectory("graft-scdf-drop").toString
    val (src, dst) = (s"$base/src", s"$base/dst")
    TxLog.append(spark, src,
      Seq(("de", 1L), ("en", 2L), ("fr", 3L)).toDF("k", "v"),
      Layout(partitionBy = Seq("k")))
    // mask one row first: the dropped file's images must EXCLUDE it
    TxLog.deleteWhereMorExpr(spark, src, "k = 'de' AND v = 1")
    val q = StreamingCdc.replicate(spark, src, dst, Seq("k"), s"$base/ck")
    try {
      q.processAllAvailable()
      // the fully-recorded drop: removes only, nothing written
      TxLog.deletePartition(spark, src, "k", "en")
      q.processAllAvailable()
      assert(TxLog.read(spark, dst).collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
        == Seq(("fr", 3L)),
        "the replica must mirror the drop (and never resurrect the masked row)")
    } finally q.stop()
  }

  test("streaming CDF: a rewrite-shaped commit is loud; skipChangeCommits skips it") {
    val base = java.nio.file.Files.createTempDirectory("graft-scdf-ow").toString
    val t = s"$base/t"
    TxLog.append(spark, t, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    TxLog.overwrite(spark, t, Seq(("z", 9L)).toDF("k", "v"))
    val q = cdfStream(t, s"$base/ck", (_, _) => ())
    val e = intercept[Exception] { q.processAllAvailable() }
    assert(e.getMessage.contains("rewrite-shaped") ||
      Option(e.getCause).exists(_.getMessage.contains("rewrite-shaped")),
      s"unexpected failure: ${e.getMessage}")
    q.stop()
    // the escape hatch: rewrites skip, later appends still deliver
    var inserts = 0L
    val q2 = spark.readStream.format("graft-txlog")
      .option("readChangeFeed", "true")
      .option("skipChangeCommits", "true")
      .load(t)
      .writeStream.option("checkpointLocation", s"$base/ck2")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        inserts += df.filter(col("_change_type") === "insert").count(); ()
      }).outputMode("append").start()
    try {
      q2.processAllAvailable()
      TxLog.append(spark, t, Seq(("y", 4L)).toDF("k", "v"))
      q2.processAllAvailable()
      assert(inserts == 3L, // v0's two rows + the post-skip append
        s"skip mode must deliver appends around the rewrite: $inserts")
    } finally q2.stop()
  }
}
