package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Top-level (not nested in the suite): nested case classes can't get
  * encoders without their outer scope. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, hhmm: String, user: Long = 1L,
                 typ: String = "click", value: Double = 1.0): Ev =
    Ev(id, Timestamp.valueOf(s"2026-01-01 $hhmm:00"), user, typ, value, "{}")

  private def runBatches[T](stream: MemoryStream[Ev],
                            query: org.apache.spark.sql.DataFrame,
                            name: String,
                            mode: String,
                            batches: Seq[Seq[Ev]]): Seq[org.apache.spark.sql.Row] = {
    val q = query.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      spark.table(name).collect().toSeq
    } finally q.stop()
  }

  test("streaming hourly window == batch q13 aggregation (complete mode)") {
    val stream = MemoryStream[Ev](spark)
    val rows = Seq(
      ev(1, "10:05"), ev(2, "10:55", value = 2.5), ev(3, "11:10"),
      ev(4, "10:30", typ = "view", value = 4.0), ev(5, "12:01", value = 0.5))
    val got = runBatches(stream, EventStreams.hourlyWindowedAgg(stream.toDF()),
      "hourly_complete", "complete", Seq(rows))
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // batch twin on the same data
    val batch = EventStreams.hourlyWindowedAgg(rows.toDF())
    val want = batch.collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want)
    assert(got.contains(("2026-01-01 10:00:00.0", "click", 2L, 3.5)))
  }

  test("append mode: a window emits once the watermark passes; late rows are dropped") {
    val stream = MemoryStream[Ev](spark)
    val out = runBatches(stream, EventStreams.hourlyWindowedAgg(stream.toDF(), "1 hour"),
      "hourly_append", "append", Seq(
        Seq(ev(1, "10:05"), ev(2, "10:40", value = 2.0)), // window [10,11)
        Seq(ev(3, "14:00")),  // watermark -> 13:00, finalizes [10,11)
        Seq(ev(4, "10:50", value = 100.0)), // LATE: behind watermark, dropped
        Seq(ev(5, "17:00"))   // advances watermark again; [14,15) finalizes
      ))
    val byWindow = out.map(r => r.getTimestamp(0).toString -> (r.getLong(2), r.getDouble(3))).toMap
    // the finalized 10:00 window contains only the two on-time rows
    assert(byWindow("2026-01-01 10:00:00.0") == ((2L, 3.0)),
      s"late row leaked into a finalized window: $byWindow")
  }

  test("session windows split on the inactivity gap") {
    val stream = MemoryStream[Ev](spark)
    val out = runBatches(stream,
      EventStreams.userSessions(stream.toDF(), gap = "30 minutes"),
      "sessions", "complete", Seq(Seq(
        ev(1, "10:00"), ev(2, "10:10"), ev(3, "10:25"), // session 1
        ev(4, "11:30"), ev(5, "11:40"),                 // session 2 (65 min gap)
        ev(6, "10:05", user = 2L))))                    // other user
    val u1 = out.filter(_.getAs[Long]("user_id") == 1L)
    assert(u1.length == 2, s"expected 2 sessions for user 1, got: ${u1.toList}")
    assert(u1.map(_.getAs[Long]("events")).toSet == Set(3L, 2L))
    assert(out.count(_.getAs[Long]("user_id") == 2L) == 1)
  }

  test("mapGroupsWithState accumulates per-user stats across batches") {
    val stream = MemoryStream[EventStreams.UserEvent](spark)
    val q = EventStreams.runningUserStats(stream.toDS(), idleTimeout = None)
      .writeStream.format("memory").queryName("user_stats").outputMode("update").start()
    try {
      stream.addData(
        EventStreams.UserEvent(1L, Timestamp.valueOf("2026-01-01 10:00:00"), 1.5),
        EventStreams.UserEvent(1L, Timestamp.valueOf("2026-01-01 10:01:00"), 2.5))
      q.processAllAvailable()
      stream.addData(
        EventStreams.UserEvent(1L, Timestamp.valueOf("2026-01-01 10:02:00"), 6.0))
      q.processAllAvailable()
      val rows = spark.table("user_stats").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // update mode appends one row per state change: (2, 4.0) then (3, 10.0)
      assert(rows.contains((1L, 2L, 4.0)))
      assert(rows.contains((1L, 3L, 10.0)))
    } finally q.stop()
  }

  test("streaming dedup drops cross-batch duplicate event_ids within the watermark") {
    val stream = MemoryStream[Ev](spark)
    val out = runBatches(stream,
      EventStreams.dedupedStream(stream.toDF(), Seq("event_id")),
      "dedup_stream", "append", Seq(
        Seq(ev(1, "10:00"), ev(2, "10:05"), ev(1, "10:00")), // in-batch dup
        Seq(ev(1, "10:01"), ev(3, "10:10"))))                // cross-batch dup
    val ids = out.map(_.getAs[Long]("event_id"))
    assert(ids.sorted.toSeq == Seq(1L, 2L, 3L), s"got ids: ${ids.toList}")
  }

  test("streaming the REAL events table == batch q13 (full sf0.001 round-trip)") {
    // file sources stream directories; expose the single real file via a
    // symlinked temp dir (testdata itself is read-only)
    val dir = java.nio.file.Files.createTempDirectory("graft-real-events")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"))
    val q = EventStreams.hourlyWindowedAgg(
      EventStreams.readEventStream(spark, dir.toString))
      .writeStream.format("memory").queryName("real_events").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("real_events").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val want = graft.operators.Relational.q13TimeWindow(spark, sfTiny).collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want, s"stream/batch divergence: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
    } finally q.stop()
  }

  test("stream-stream interval join == batch twin, and old state is cleaned up") {
    val stream = MemoryStream[Ev](spark)
    val all = Seq(
      // joinable era (user 1: one in-horizon click, one out-of-horizon)
      Seq(ev(100, "10:00", typ = "view", value = 0.0),
        ev(200, "10:20"),                      // joins view 100
        ev(201, "11:30"),                      // 90 min after the view: outside horizon
        ev(101, "10:05", user = 2L, typ = "view"),
        ev(202, "10:06", user = 2L)),          // joins view 101
      // far-future rows on BOTH sides advance both watermarks past the era above
      Seq(ev(9000, "20:00", user = 9L, typ = "view"), ev(9001, "20:01", user = 9L)),
      Seq(ev(9100, "21:00", user = 8L, typ = "view"), ev(9101, "21:01", user = 8L)))
    val q = EventStreams.clickViewAttribution(stream.toDF())
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    val (got, stateRows) = try {
      all.foreach { b => stream.addData(b); q.processAllAvailable() }
      val rows = spark.table("attrib").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"), r.getAs[Long]("click_id")))
        .toSet
      val progress = q.recentProgress.reverse.find(_.stateOperators.nonEmpty).get
      (rows, progress.stateOperators.map(_.numRowsTotal).sum)
    } finally q.stop()
    // batch twin: the identical code path on a batch DataFrame
    // (withWatermark is a no-op there) is the equivalence oracle
    val want = EventStreams.clickViewAttribution(all.flatten.toDF()).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"), r.getAs[Long]("click_id")))
      .toSet
    assert(got == want, s"stream/batch divergence: got $got want $want")
    assert(got.contains((1L, 100L, 200L)) && !got.exists(_._3 == 201L),
      s"horizon misapplied: $got")
    // 9 rows went in; the 5 early-era rows sit far behind both watermarks
    // (10:xx vs ~20:50) and must have been evicted from join state
    assert(stateRows <= 6, s"join state not cleaned up: $stateRows rows retained")
  }

  test("materialized hourly view tracks the batch aggregate across updating windows") {
    val stream = MemoryStream[Ev](spark)
    val out = java.nio.file.Files.createTempDirectory("graft-mv-out").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-mv-chk").toString
    val batches = Seq(
      Seq(ev(1, "10:05"), ev(2, "10:10", typ = "view", value = 2.0)),
      // batch 2 UPDATES the open 10:00 window (both types) and opens 11:00
      Seq(ev(3, "10:40", value = 3.0), ev(4, "11:15", typ = "view")),
      // batch 3 updates 11:00 again
      Seq(ev(5, "11:30", value = 7.0)))
    val q = EventStreams.materializeHourlyCounts(stream.toDF(), out, chk)
    try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
    // the maintained table must equal the batch aggregate of ALL data —
    // including windows never finalized by the watermark
    val got = spark.read.parquet(out)
      .select("w", "event_type", "c", "s").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = EventStreams.hourlyWindowedAgg(batches.flatten.toDF()).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want, s"view drifted: got $got want $want")
    // the 10:00 click row reflects BOTH its updates (ids 1 + 3)
    assert(got.contains(("2026-01-01 10:00:00.0", "click", 2L, 4.0)))
  }

  test("file sink + checkpoint: restart resumes exactly-once (no loss, no dups)") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-ck-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ck-out").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-ck-chk").toString
    def startQuery() = EventStreams.readEventStream(spark, src)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()
    // batch 1 → process → STOP (simulated crash/redeploy)
    Seq(ev(1, "10:00"), ev(2, "10:05")).toDF()
      .write.mode("append").parquet(src)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // batch 2 lands while the query is down; restart from the SAME
    // checkpoint — the sink's commit log must dedupe batch 1 and pick up
    // exactly the new file
    Seq(ev(3, "10:10"), ev(4, "10:15")).toDF()
      .write.mode("append").parquet(src)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L),
      s"restart broke exactly-once: $ids (dups = reprocessed, gaps = lost)")
  }

  test("file-source stream reads event-shaped parquet with the declared schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    Seq(ev(1, "10:00"), ev(2, "10:30")).toDF()
      .write.mode("overwrite").parquet(dir)
    var stream: DataFrame = null
    val jobs = jobsDuring { stream = EventStreams.readEventStream(spark, dir) }
    assert(jobs == 0, s"building the stream launched $jobs Spark jobs")
    val q = EventStreams.hourlyWindowedAgg(stream)
      .writeStream.format("memory").queryName("file_stream").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("file_stream").collect()
      assert(rows.length == 1 && rows.head.getLong(2) == 2L)
    } finally q.stop()
  }
}
