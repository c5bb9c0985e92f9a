package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over `events`-shaped data (SURVEY.md §2.2
  * "Streaming" row; the streaming twin of [[graft.operators.Relational.q13TimeWindow]]).
  *
  * Design for scale: every stateful operator is watermarked so state is
  * bounded (an unwatermarked streaming agg grows state forever — the
  * streaming analogue of the driver-side collect anti-pattern). State is
  * keyed by (window, event_type) or user_id, so it partitions across
  * executors like any shuffle.
  */
object EventStreams {

  /** Normalized schema of the events table: instant (session-zone)
    * micro-second timestamps, matching what the batch loader
    * ([[graft.sources.Tables.events]]) hands every consumer. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of event parquet files,
    * encoding-adaptive: a streaming source needs its schema up front, so
    * read it from one footer on the driver
    * ([[graft.sources.Tables.footerSchema]], the directory rule of
    * Spark's inference without its Spark job) and then apply the SAME
    * normalization as the batch loader (long nanos → µs timestamps,
    * TIMESTAMP_NTZ → instant cast, already-instant passthrough). Deriving
    * the on-disk schema instead of hardcoding an encoding means a driver
    * regeneration that changes the parquet timestamp flavor cannot
    * silently desynchronize stream and batch — they normalize through one
    * code path or fail loudly together. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val onDisk = graft.sources.Tables.footerSchema(spark, dir)
    val raw = spark.readStream.schema(onDisk).parquet(dir)
    onDisk("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Streaming twin of Q13: event-time tumbling 1-hour window per
    * event_type, late data dropped past the watermark. In append mode a
    * window emits exactly once, when the watermark passes its end. */
  def hourlyWindowedAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("c"),
        round(sum(col("value").cast(DecimalType(18, 2))), 2).cast("double").as("s"))
      .select(col("window.start").as("w"), col("event_type"), col("c"), col("s"))

  /** Session windows: events of one user group into sessions separated by
    * `gap` of inactivity — the built-in session_window keeps state only
    * until watermark + gap. */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
                   watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("events"),
        round(sum(col("value").cast(DecimalType(18, 2))), 2).cast("double").as("total"))
      .select(col("sw.start").as("session_start"), col("sw.end").as("session_end"),
        col("user_id"), col("events"), col("total"))

  /** Streaming exact dedup: drops rows whose `keys` were already seen,
    * keeping the seen-set only within the watermark horizon
    * (`dropDuplicatesWithinWatermark` — without the bound the state grows
    * forever; the streaming twin of [[graft.operators.Dedup.exactDedup]]). */
  def dedupedStream(events: DataFrame, keys: Seq[String],
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming MATERIALIZED-VIEW maintenance: keep a parquet table of
    * the hourly per-type aggregate continuously up to date, including
    * windows still receiving data.
    *
    * Update-mode emits each (window, event_type) row whenever its
    * aggregate changes; `foreachBatch` rewrites EXACTLY the changed
    * partitions via dynamic partition overwrite (partitioned by BOTH
    * grouping keys — overwriting on the window alone would drop the
    * window's other event_types written by earlier batches). Rewrites
    * are idempotent (same rows → same partition contents), so a replayed
    * micro-batch after restart converges instead of duplicating — the
    * upsert analogue of the append-only finalized-window sink, for
    * consumers that cannot wait out the watermark.
    */
  def materializeHourlyCounts(events: DataFrame, outPath: String,
                              checkpoint: String,
                              watermark: String = "2 hours") = {
    hourlyWindowedAgg(events, watermark)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // per-WRITE option, not the session conf: mutating the global
        // partitionOverwriteMode would leak dynamic mode to any
        // concurrent writer in the same session for the duration of the
        // micro-batch
        batch.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("w", "event_type").parquet(outPath)
      }
      .start()
  }

  /** Stream-stream interval join: click→view attribution — each click
    * joins the same user's views from the preceding `horizonMinutes`.
    *
    * Both sides carry a watermark and the join condition bounds the event
    * times against each other; TOGETHER those let the engine compute how
    * long each side's rows stay joinable and drop state the moment the
    * other side's watermark passes that bound (an interval condition
    * without watermarks would buffer both streams forever). Inner join:
    * a pair emits as soon as both rows have arrived — no waiting on the
    * watermark, which only drives state cleanup and late-row dropping.
    * State is keyed by user_id, so it shuffles/partitions like any join.
    *
    * Applied to a BATCH DataFrame the same code degrades gracefully
    * (withWatermark is a no-op) to a plain interval join — StreamingSpec
    * uses that as the equivalence oracle.
    *
    * `joinType = "leftOuter"`: a click with NO view in its horizon still
    * emits once, with null view columns — but only after the watermark
    * passes the click's state-eviction bound (the engine must be SURE no
    * matching view is still in flight; that certainty is exactly what
    * the watermark encodes). Since the GLOBAL watermark is the MIN
    * across both sides' watermark operators, the null row needs BOTH
    * sides' event time to advance — continuing production traffic
    * provides that for free; StreamingJoinSpec drives it with two-sided
    * sentinels and pins the min-watermark semantics.
    */
  def clickViewAttribution(events: DataFrame, watermark: String = "10 minutes",
                           horizonMinutes: Int = 60,
                           joinType: String = "inner"): DataFrame = {
    require(Set("inner", "leftOuter").contains(joinType),
      s"unsupported stream-stream join type $joinType")
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $horizonMinutes MINUTES"),
      joinType)
      .select(col("c_user").as("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserStat(user_id: Long, events: Long, total: Double)

  /** Custom keyed state via mapGroupsWithState (the `Reducer`-with-state
    * generalization): running per-user event count + value total.
    *
    * `idleTimeout = Some(d)` expires idle users after a processing-time
    * timeout so state stays bounded without an event-time watermark —
    * note that a processing-time timeout makes the engine schedule
    * micro-batches continuously even with no incoming data (it must fire
    * timers), which is correct on a cluster but turns test harnesses that
    * wait for quiescence into busy loops; pass None there.
    */
  def runningUserStats(events: Dataset[UserEvent],
                       idleTimeout: Option[String] = Some("1 hour")): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStat, UserStat](timeoutConf) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserStat]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            var n = 0L; var tot = 0.0
            batch.foreach { e => n += 1; tot += e.value }
            val prev = state.getOption.getOrElse(UserStat(uid, 0L, 0.0))
            val next = UserStat(uid, prev.events + n,
              math.rint((prev.total + tot) * 100) / 100)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }
}
